"""Span bookkeeping: self time per span name.

A span is a dict with `id`, `parent` (0 for a root), `op`, `name`,
`start_ns` and `end_ns`. A span's self time is its duration minus the part
of its interval covered by its child spans (overlapping children count
once, and a child's part outside the parent is ignored).
"""
import collections
import json


def load(path):
    with open(path) as f:
        return [json.loads(line) for line in f if line.strip()]


def covered(intervals, lo, hi):
    """Length of the union of `intervals`, clipped to [lo, hi]."""
    total, cur_lo, cur_hi = 0, None, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur_hi is None or a > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = a, b
        else:
            cur_hi = max(cur_hi, b)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def self_times(spans):
    """{span id: self time in ns}."""
    children = collections.defaultdict(list)
    for s in spans:
        children[s["parent"]].append((s["start_ns"], s["end_ns"]))
    return {s["id"]: (s["end_ns"] - s["start_ns"])
            - covered(children[s["id"]], s["start_ns"], s["end_ns"])
            for s in spans}


def self_seconds_by_name(spans, ops=None):
    """{name: total self seconds}, over spans of the given op ids (all
    spans when `ops` is None)."""
    st = self_times(spans)
    out = collections.defaultdict(float)
    for s in spans:
        if ops is None or s["op"] in ops:
            out[s["name"]] += st[s["id"]] / 1e9
    return dict(out)
