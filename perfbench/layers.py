"""Per-layer metrics of a traced run.

Times and counts are per op: means over the traced ops of the timed loop
that reach the layer; probe figures come from the layer probes the harness
runs after the loop. A metric of a layer a workload does not reach is 0.
"""
import collections
import statistics

import spans

UNITS = {
    "engine.create_s": "s", "tables.attach_s": "s", "catalog.resolve_s": "s",
    "fixture.warc_drop_s": "s", "fixture.pg_s": "s",
    "plans.analyze_s": "s", "plans.optimize_s": "s", "plans.physical_s": "s",
    "plans.sqlgen_s": "s", "plans.fused_ratio": "ratio",
    "plans.pushed_scans": "count", "plans.local_scans": "count",
    "spark.execute_s": "s",
    "sources.backend_exec_s": "s", "sources.wire_s": "s",
    "sources.wire_bytes": "bytes", "sources.decode_s": "s",
    "sources.decode_mb_per_s": "MB/s", "sources.rows_fetched_per_row_out": "ratio",
    "sources.sessions_per_query": "count", "sources.first_row_s": "s",
    "sources.spark_s": "s",
    "ingest.parse_s": "s", "ingest.valid_docs": "count",
    "ingest.quarantined": "count",
    "stage.extract_gate_s": "s", "stage.curate_s": "s", "stage.chunk_s": "s",
    "stage.chunks_out": "count", "dedup.kept_ratio": "ratio",
    "codegen.fallbacks": "count",
    "stream.add_batch_s": "s", "stream.query_planning_s": "s",
    "stream.wal_commit_s": "s", "stream.latest_offset_s": "s",
    "stream.trigger_s": "s", "stream.batches": "count", "stream.run_s": "s",
    "sink.rows_written": "count",
    "spark.jobs": "count", "spark.stages": "count", "spark.tasks": "count",
    "spark.run_s": "s", "spark.cpu_s": "s", "spark.gc_s": "s",
    "spark.cpu_util": "ratio", "spark.input_bytes": "bytes",
    "spark.shuffle_write_bytes": "bytes", "spark.shuffle_read_bytes": "bytes",
    "spark.fetch_wait_s": "s", "spark.spill_bytes": "bytes",
    "spark.task_skew": "ratio",
    "cache.leftover": "count", "jvm.peak_rss_mb": "MB",
    "trace.overhead_ratio": "ratio",
}

SPAN_METRICS = {"plans.analyze": "plans.analyze_s",
                "plans.optimize": "plans.optimize_s",
                "plans.physical": "plans.physical_s",
                "spark.execute": "spark.execute_s",
                "streaming.run": "stream.run_s"}
# op-level counters averaged over the ops that report them
OP_MEANS = ["codegen.fallbacks", "cache.leftover", "plans.pushed_scans",
            "plans.local_scans", "stage.chunks_out", "sink.rows_written",
            "stream.add_batch_s", "stream.query_planning_s", "stream.wal_commit_s",
            "stream.latest_offset_s", "stream.trigger_s", "stream.batches"]


def _mean(xs):
    return statistics.fmean(xs) if xs else 0.0


def overhead_ratio(ops):
    """Median over op names of (median traced / median untraced latency) - 1;
    0 when no op name has both kinds of sample."""
    by = collections.defaultdict(lambda: ([], []))
    for o in ops:
        by[o["name"]][0 if o["traced"] else 1].append(o["latency_s"])
    ratios = [statistics.median(t) / statistics.median(u)
              for t, u in by.values() if t and u]
    return statistics.median(ratios) - 1 if ratios else 0.0


def federation(result, say):
    """Per-query backend / wire / decode / Spark split, and its means."""
    fed = result["probes"].get("federation")
    if not fed:
        return {}
    lat = collections.defaultdict(list)
    rows_out = {}
    for o in result["ops"]:
        if o["traced"]:
            lat[o["name"]].append(o["latency_s"])
        rows_out[o["name"]] = o["rows"]
    spark = {}
    for name, f in sorted(fed.items()):
        fetch = f["backend_exec_s"] + f["wire_s"] + f["decode_s"]
        spark[name] = max(statistics.median(lat[name]) - fetch, 0.0) if lat[name] else 0.0
        say(f"split {name}: backend {f['backend_exec_s']:.4f} s, wire "
            f"{f['wire_s']:.4f} s, decode {f['decode_s']:.4f} s, spark "
            f"{spark[name]:.4f} s ({f['pushed_queries']} pushed, "
            f"{f['wire_bytes']} B, {f['rows_fetched']} rows)")
    qs = list(fed.values())
    decode = sum(f["decode_s"] for f in qs)
    n_loop = len(result["ops"])
    return {
        "sources.backend_exec_s": _mean([f["backend_exec_s"] for f in qs]),
        "sources.wire_s": _mean([f["wire_s"] for f in qs]),
        "sources.decode_s": _mean([f["decode_s"] for f in qs]),
        "sources.first_row_s": _mean([f["first_row_s"] for f in qs]),
        "sources.wire_bytes": _mean([f["wire_bytes"] for f in qs]),
        "sources.spark_s": _mean(list(spark.values())),
        "sources.decode_mb_per_s":
            sum(f["wire_bytes"] for f in qs) / decode / 1e6 if decode else 0.0,
        "sources.rows_fetched_per_row_out":
            sum(f["rows_fetched"] for f in qs)
            / max(sum(rows_out.get(n, 0) for n in fed), 1),
        "sources.sessions_per_query":
            result["probes"].get("sources.sessions", 0) / n_loop,
    }


def per_layer(result, spans_path, fixture_s, say):
    m = dict.fromkeys(UNITS, 0.0)
    for k in ("engine.create_s", "tables.attach_s", "catalog.resolve_s",
              "fixture.warc_drop_s"):
        m[k] = result["setup"].get(k, 0.0)
    m["fixture.pg_s"] = fixture_s
    m["jvm.peak_rss_mb"] = result["peak_rss_mb"]

    traced = [o for o in result["ops"] if o["traced"]]
    ids = {o["idx"] for o in traced}
    recorded = spans.load(spans_path)
    self_s = spans.self_seconds_by_name(recorded, ids)
    for span, metric in SPAN_METRICS.items():
        n_ops = len({s["op"] for s in recorded if s["name"] == span and s["op"] in ids})
        m[metric] = self_s.get(span, 0.0) / max(n_ops, 1)
    for k in OP_MEANS:
        m[k] = _mean([o["layers"][k] for o in traced if k in o["layers"]])
    for k in UNITS:
        if k.startswith("spark.") and k != "spark.execute_s":
            m[k] = _mean([o["layers"][k] for o in traced if k in o["layers"]])
    m["plans.fused_ratio"] = _mean(
        [o["layers"]["plans.fused"] for o in traced if "plans.fused" in o["layers"]])

    probes = result["probes"]
    for k in ("plans.sqlgen_s", "ingest.parse_s", "ingest.valid_docs",
              "ingest.quarantined", "stage.extract_gate_s", "stage.curate_s",
              "stage.chunk_s", "dedup.kept_ratio"):
        if k in probes:
            m[k] = float(probes[k])
    m.update(federation(result, say))
    m["trace.overhead_ratio"] = overhead_ratio(result["ops"])
    return m
