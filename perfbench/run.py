#!/usr/bin/env python3
"""The engine's benchmark: one closed-loop client over one workload.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The first run builds the harness and the
engine from source (sbt, offline) and generates the inputs under
`.perfbench/`; later runs reuse both. Every op's result is checked against
DuckDB. The last stdout line is one JSON object with `correct`, `attempted`,
`failed` and `metrics`: the end-to-end metrics with `--trace 0`, the
per-layer metrics with `--trace 1`. See perfbench/README.md.
"""
import argparse
import collections
import contextlib
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import check  # noqa: E402
import datagen  # noqa: E402
import layers  # noqa: E402
import pgfixture  # noqa: E402
import stats  # noqa: E402

WORKLOADS = ("tpch_local", "tpch_federated", "crawl_to_chunks")
HEAP = "3g"
RUN_LIMIT_S = 170
BUILD_LIMIT_S = 840
ADD_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
             "java.net", "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar"]


def say(msg):
    print(f"[perfbench] {msg}", flush=True)


def source_fingerprint():
    h = hashlib.sha256()
    dirs = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "harness")]
    for top in dirs:
        for d, subdirs, files in os.walk(top):
            subdirs[:] = sorted(s for s in subdirs if s not in ("target", "project"))
            for f in sorted(files):
                p = os.path.join(d, f)
                h.update(p.encode())
                with open(p, "rb") as fh:
                    h.update(fh.read())
    return h.hexdigest()


def spark_home():
    """SPARK_HOME, or the installation whose `spark-submit` is on PATH."""
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if not submit:
            raise RuntimeError("Spark not found: set SPARK_HOME")
        home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    return home


def build(work, log):
    """Compile the engine and the harness (once per source state); return
    the JVM classpath and the sources' fingerprint."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        raise RuntimeError(f"no engine sources under {ROOT}/src/main/scala; "
                           "run from the root of a full checkout")
    harness = os.path.join(HERE, "harness")
    classes = os.path.join(harness, "target", "scala-2.13", "classes")
    stamp = os.path.join(work, "build.stamp")
    fp = source_fingerprint()
    if not (os.path.exists(stamp) and open(stamp).read() == fp
            and os.path.isdir(classes)):
        say("building the engine and the harness (sbt, offline)")
        env = dict(os.environ, COURSIER_MODE="offline", SPARK_HOME=spark_home())
        repos = os.path.expanduser("~/.sbt/repositories")
        opts = ["-Dsbt.offline=true", "-Xmx3g"]
        if os.path.exists(repos):
            opts += ["-Dsbt.override.build.repos=true",
                     f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
        subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true",
                        "Compile / products"], cwd=harness, env=env, check=True,
                       stdout=log, stderr=log, timeout=BUILD_LIMIT_S,
                       stdin=subprocess.DEVNULL)
        with open(stamp, "w") as f:
            f.write(fp)
    return f"{classes}:{os.path.join(spark_home(), 'jars')}/*", fp


def steal_ticks():
    with open("/proc/stat") as f:
        return int(f.readline().split()[8])


def host_seconds(ticks):
    """Hypervisor steal over all CPUs, as wall seconds per CPU: the time the
    host ran something else while this VM's CPUs had work."""
    return ticks / os.sysconf("SC_CLK_TCK") / os.cpu_count()


def net_latency(op):
    """An op's wall time less the hypervisor steal during it."""
    return op["latency_s"] - host_seconds(op["steal_ticks"])


def setup_seconds(result, fixture_s, steal0):
    """Set-up time: the Postgres fixture, then JVM start to the first timed
    op (session, attach / catalog, fixture staging, warm-up pass), less the
    hypervisor steal from the fixture's start to the first op."""
    wall = fixture_s + (result["first_op_ms"] - result["jvm_start_ms"]) / 1e3
    return wall - host_seconds(result["first_op_steal"] - steal0)


def end_to_end(result, ok_ops, setup_s):
    """Every op kind counts once, at its median over the run's samples, so
    a run that ends mid-pass weighs no kind twice and a slow sample moves
    the median less than a mean. Latencies are net of hypervisor steal."""
    by_name = collections.defaultdict(list)
    for o in result["ops"]:
        by_name[o["name"]].append(o)
    lat = [statistics.median(map(net_latency, os_)) for os_ in by_name.values()]
    cpu = [statistics.median(o["cpu_s"] for o in os_) for os_ in by_name.values()]
    ok_share = len(ok_ops) / len(result["ops"])
    return {
        "setup_s": (setup_s, "s"),
        "ops_per_s": (ok_share * len(lat) / sum(lat), "1/s"),
        "latency_p50_s": (stats.harrell_davis_median(lat), "s"),
        "cpu_s_per_op": (statistics.fmean(cpu), "s"),
    }


def report_lines(workload, result, ok_ops, docs):
    """Human-readable lines: the workload's own throughput names, the latency
    tail where enough samples support it, and the failure ratio."""
    ops = result["ops"]
    lat = [o["latency_s"] for o in ops]
    s = stats.latency_summary(lat)
    tail = (f", p{s['tail_p']:g} {s['tail']:.4f} s" if s["tail_p"]
            else " (too few samples for a tail percentile)")
    say(f"latency (wall, every sample): n={s['n']}, p50 {s['p50']:.4f} s{tail}; "
        f"steal during ops {sum(host_seconds(o['steal_ticks']) for o in ops):.3f} s")
    if workload.startswith("tpch"):
        say(f"queries_per_s: {len(ok_ops) / sum(lat):.4f} "
            f"({len(ok_ops)} oracle-correct queries)")
    else:
        for name, label in (("e2e_crawl_to_chunks", "docs_per_s"),
                            ("stream_crawl_chunks", "stream_docs_per_s")):
            t = sum(o["latency_s"] for o in ops if o["name"] == name)
            n = sum(1 for o in ok_ops if o["name"] == name)
            say(f"{label}: {n * docs / t:.1f} ({n} runs over {docs} docs)")
    say(f"failed_ops_ratio: {(len(ops) - len(ok_ops)) / len(ops):.4f}")
    say(f"peak_rss_mb: {result['peak_rss_mb']:.1f} (JVM VmHWM)")


def java_cmd(classpath, tmp, main, conf):
    return (["java", f"-Xmx{HEAP}"]
            + [f"--add-opens=java.base/{m}=ALL-UNNAMED" for m in ADD_OPENS]
            + ["-Dspark.ui.enabled=false", "-Duser.timezone=UTC",
               f"-Djava.io.tmpdir={tmp}", "-cp", classpath, main]
            + [f"{k}={v}" for k, v in conf.items()])


class Prepared:
    """One-time work per checkout and source state: the build, the inputs,
    every op's oracle SQL and its expected result (DuckDB). The first run in
    a checkout pays for all of it, whichever workload it runs."""

    def __init__(self, work, log, eager=True):
        self.classpath, fp = build(work, log)
        self.tpch_dir = datagen.tpch(os.path.join(work, "data", "tpch"))
        self.crawl_dir, self.docs, self.doc_bytes = datagen.crawl_corpus(
            os.path.join(work, "data", "crawl"), self.tpch_dir)
        path = os.path.join(work, f"oracle-{fp[:16]}.json")
        if not os.path.exists(path):
            tmp = os.path.join(work, "oracle-tmp")
            os.makedirs(tmp, exist_ok=True)
            subprocess.run(java_cmd(self.classpath, tmp, "perfbench.Harness",
                                    {"mode": "oracle", "out": path + ".tmp"}),
                           check=True, stdout=log, stderr=log, timeout=120,
                           stdin=subprocess.DEVNULL)
            os.replace(path + ".tmp", path)
        with open(path) as f:
            self.oracle_sql = json.load(f)
        cache = os.path.join(work, "expected")
        self.checkers = {"tpch": check.Checker(ROOT, self.tpch_dir, cache, fp),
                         "crawl": check.Checker(ROOT, self.crawl_dir, cache, fp)}
        if eager:
            for name, sql in sorted(self.oracle_sql.items()):
                self.checker_for(name).expected(sql)

    def checker_for(self, name):
        return self.checkers["crawl" if "crawl" in name else "tpch"]


def run_jvm(prep, run_dir, conf, log, deadline):
    tmp = os.path.join(run_dir, "tmp")
    cwd = os.path.join(run_dir, "jvm")
    os.makedirs(tmp)
    os.makedirs(cwd)
    proc = subprocess.Popen(java_cmd(prep.classpath, tmp, "perfbench.Harness", conf),
                            cwd=cwd, stdout=log, stderr=log,
                            stdin=subprocess.DEVNULL, start_new_session=True)
    try:
        code = proc.wait(timeout=max(deadline - time.time(), 1))
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
    if code != 0:
        raise RuntimeError(f"harness exited with {code}; see {log.name}")


def record_expected(work):
    os.makedirs(work, exist_ok=True)
    with open(os.path.join(work, "record-log.txt"), "w") as log:
        prep = Prepared(work, log, eager=False)
    crawl = prep.checkers["crawl"]
    records = {}
    for name, sql in sorted(prep.oracle_sql.items()):
        if prep.checker_for(name) is crawl and check.sha(sql) not in records:
            say(f"running the {name} oracle in DuckDB")
            records[check.sha(sql)] = crawl.record(sql)
    fresh = {(r["sql_sha256"], r["inputs_sha256"]) for r in records.values()}
    kept = [r for k, r in check.load_recorded().items() if k not in fresh]
    with open(check.RECORDED, "w") as f:
        json.dump(kept + list(records.values()), f, indent=1)
        f.write("\n")
    say(f"recorded {len(records)} digests in {check.RECORDED}")
    return 0


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int)
    ap.add_argument("--seconds", type=float)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--record-expected", action="store_true",
                    help="run DuckDB on the crawl oracle and record the digest "
                    "of its result in perfbench/data/expected.json")
    args = ap.parse_args(argv)
    work = os.path.join(ROOT, ".perfbench")
    if args.record_expected:
        return record_expected(work)
    if args.workload is None or args.seed is None or args.seconds is None:
        ap.error("--workload, --seed and --seconds are required")
    runs = os.path.join(work, "runs")
    shutil.rmtree(runs, ignore_errors=True)
    run_dir = os.path.join(runs, f"{args.workload}-{args.seed}-{args.trace}")
    os.makedirs(run_dir)
    log = open(os.path.join(run_dir, "log.txt"), "w")
    steal0 = steal_ticks()

    prep = Prepared(work, log)
    deadline = time.time() + RUN_LIMIT_S
    crawl = args.workload == "crawl_to_chunks"
    data_dir = prep.crawl_dir if crawl else prep.tpch_dir
    if crawl:
        say(f"corpus: {prep.docs} documents, {prep.doc_bytes} bytes")
    checker = prep.checkers["crawl" if crawl else "tpch"]
    out = os.path.join(run_dir, "out")
    conf = {"workload": args.workload, "seed": args.seed,
            "seconds": args.seconds, "trace": args.trace, "data": data_dir,
            "out": out, "known": checker.known_path}
    fixture_s = 0.0
    with contextlib.ExitStack() as stack:
        if args.workload == "tpch_federated":
            template = pgfixture.template(work, prep.tpch_dir, datagen.TPCH_TABLES, log)
            steal_setup0 = steal_ticks()
            t0 = time.time()
            pg = stack.enter_context(pgfixture.Postgres(os.path.join(work, "pg"),
                                                        log, template))
            fixture_s = time.time() - t0
            sizes, shared = pg.sizes()
            say(f"postgres: {sum(sizes.values()) / 2**20:.1f} MiB of tables "
                f"(lineitem {sizes['lineitem'] / 2**20:.1f} MiB) vs "
                f"shared_buffers {shared}; fixture {fixture_s:.2f} s")
            conf["pg"] = pg.address()
        else:
            steal_setup0 = steal_ticks()
        run_jvm(prep, run_dir, conf, log, deadline)
    with open(os.path.join(out, "result.json")) as f:
        result = json.load(f)

    for d in result["dumps"]:
        ok, msg = checker.check(d["path"], prep.oracle_sql[d["name"]])
        if ok:
            checker.remember(d["name"], d["hash"])
        else:
            say(f"MISMATCH {d['name']}: {msg}")
    for o in result["ops"]:
        if o["error"]:
            say(f"ERROR {o['name']}: {o['error']}")
    ok_ops = [o for o in result["ops"] if not o["error"] and (
        (o["name"], o["hash"]) in checker.known)]
    attempted, failed = len(result["ops"]), len(result["ops"]) - len(ok_ops)

    report_lines(args.workload, result, ok_ops, prep.docs)
    ctx = result["context"]
    say(f"context: loadavg {ctx['loadavg']}, sort probe {ctx['sort_probe_s']:.3f} s, "
        f"steal {steal_ticks() - steal0} ticks")
    if args.trace:
        metrics = layers.per_layer(result, os.path.join(out, "spans.jsonl"),
                                   fixture_s, say)
        units = layers.UNITS
    else:
        e2e = end_to_end(result, ok_ops,
                         setup_seconds(result, fixture_s, steal_setup0))
        metrics = {k: v for k, (v, _) in e2e.items()}
        units = {k: u for k, (_, u) in e2e.items()}
    for k, v in metrics.items():
        say(f"{k} = {v:.6g} {units[k]}")
    print(json.dumps({
        "correct": failed == 0 and attempted > 0,
        "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    # a terminated run still stops its JVM and its Postgres
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    try:
        sys.exit(main())
    except Exception as e:  # no result line on failure
        print(f"[perfbench] error: {e}", file=sys.stderr)
        sys.exit(1)
