#!/usr/bin/env python3
"""Steadiness mode: run each workload repeatedly, one seed per run, and
report every end-to-end metric's median, quartiles and spread (the quartile
distance as a share of the median) against its bound in BENCHMARK.json.

    python3 perfbench/steady.py [--runs 10] [--first-seed 1] [--workloads a,b]
                                [--out steady.json]

Each run's context is recorded beside its metrics: the 1/5/15-minute
loadavg, the harness's fixed-work sort probe, and the hypervisor steal ticks
(/proc/stat) over the run, so a contended run can be told apart from the
file alone.
"""
import argparse
import json
import os
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import stats  # noqa: E402


def proc_stat_steal():
    with open("/proc/stat") as f:
        return int(f.readline().split()[8])


def loadavg():
    with open("/proc/loadavg") as f:
        return [float(x) for x in f.read().split()[:3]]


def one_run(workload, seed, seconds):
    steal0, t0 = proc_stat_steal(), time.time()
    proc = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"],
        cwd=ROOT, capture_output=True, text=True)
    lines = proc.stdout.strip().splitlines()
    result = json.loads(lines[-1]) if proc.returncode == 0 and lines else None
    ctx = {"seed": seed, "exit": proc.returncode, "wall_s": time.time() - t0,
           "steal_ticks": proc_stat_steal() - steal0, "loadavg": loadavg()}
    rj = os.path.join(ROOT, ".perfbench", "runs", f"{workload}-{seed}-0", "out",
                      "result.json")
    if os.path.exists(rj):
        with open(rj) as f:
            ctx["sort_probe_s"] = json.load(f)["context"]["sort_probe_s"]
    if result is None:
        ctx["stderr_tail"] = proc.stderr.strip().splitlines()[-5:]
    return result, ctx


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--workloads")
    ap.add_argument("--out")
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    names = (args.workloads.split(",") if args.workloads
             else [w["name"] for w in bench["workloads"]])
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    report = {}
    for w in names:
        runs = []
        for i in range(args.runs):
            result, ctx = one_run(w, args.first_seed + i, bench["run_seconds"])
            runs.append({"result": result, "context": ctx})
            m = result["metrics"] if result else {}
            print(f"{w} seed={ctx['seed']} exit={ctx['exit']} "
                  f"wall={ctx['wall_s']:.0f}s steal={ctx['steal_ticks']} "
                  f"load={ctx['loadavg'][0]} probe={ctx.get('sort_probe_s', 0):.3f} "
                  + " ".join(f"{k}={v['value']:.4g}" for k, v in m.items()),
                  flush=True)
        summary = {}
        good = [r["result"] for r in runs if r["result"]]
        for name, bound in bounds.items():
            vals = [r["metrics"][name]["value"] for r in good]
            if len(vals) < 2:
                continue
            q1, med, q3, spread = stats.quartile_spread(vals)
            summary[name] = {"median": med, "q1": q1, "q3": q3,
                             "spread": spread, "bound": bound,
                             "within_third_of_bound": spread <= bound / 3}
            print(f"  {name}: median {med:.4g} [q1 {q1:.4g}, q3 {q3:.4g}] "
                  f"spread {spread:.3f} (bound {bound})")
        report[w] = {"runs": runs, "summary": summary,
                     "failed_runs": len(runs) - len(good)}
    if args.out:
        with open(args.out, "w") as f:
            json.dump(report, f, indent=1)
    return 0


if __name__ == "__main__":
    sys.exit(main())
