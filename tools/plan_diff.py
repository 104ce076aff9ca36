#!/usr/bin/env python3
"""Diff two `graft.PlanDump` output directories.

    python3 tools/plan_diff.py <dirA> <dirB>

PlanDump writes one `<entry>_<suffix>.txt` per entry (one suffix per run).
Entries are matched by name across the two directories. Before comparing,
each plan is normalized for what differs between two runs of the same code:

  - expression ids            `doc_id#1234L`          -> `doc_id#NL`
  - plan / RDD numbers        `plan_id=12`, `RDD[65]` -> `plan_id=N`, `RDD[N]`
  - lambda classes            `$Lambda$5774/0x7fa3@9d43cf` -> `$Lambda`
  - object hashes             `FrequentItems@6919a8a` -> `FrequentItems@H`
  - source line numbers       `Dedup.scala:822`       -> `Dedup.scala:N`
  - fused-SQL names           `gq_17`, `"c1234"`      -> `gq_N`, `"cN"`

Prints each entry that differs (the whole unified diff of the normalized
text, 2 lines of context per hunk), each entry present on one side only,
and a summary line. Exit status is 0 when nothing differs, 1 otherwise.
"""
import difflib
import os
import re
import sys

RULES = [
    (re.compile(r"\$+Lambda[$\d]*/0x[0-9a-f]+(@[0-9a-f]+)?"), "$Lambda"),
    (re.compile(r"@[0-9a-f]{5,}\b"), "@H"),
    (re.compile(r"#\d+"), "#N"),
    (re.compile(r"plan_id=\d+"), "plan_id=N"),
    (re.compile(r"RDD\[\d+\]"), "RDD[N]"),
    (re.compile(r"(\w+\.scala):\d+"), r"\1:N"),
    (re.compile(r"\bgq_\d+\b"), "gq_N"),
    (re.compile(r"([`\"])c\d+\1"), r"\1cN\1"),
]


def normalize(text):
    for pattern, repl in RULES:
        text = pattern.sub(repl, text)
    return text


def entries(directory):
    """entry name -> path; the run's common `_<suffix>` is stripped."""
    names = [f for f in os.listdir(directory) if f.endswith(".txt")]
    suffixes = {f[:-4].rsplit("_", 1)[-1] for f in names if "_" in f}
    strip = len(suffixes) == 1
    out = {}
    for f in names:
        stem = f[:-4]
        key = stem.rsplit("_", 1)[0] if strip and "_" in stem else stem
        out[key] = os.path.join(directory, f)
    return out


def read(path):
    with open(path, encoding="utf-8", errors="replace") as fh:
        return normalize(fh.read()).splitlines()


def main(argv):
    if len(argv) != 2:
        sys.exit("usage: plan_diff.py <dirA> <dirB>")
    a, b = entries(argv[0]), entries(argv[1])
    differing = 0
    for name in sorted(a.keys() - b.keys()):
        print(f"ONLY-A {name}")
    for name in sorted(b.keys() - a.keys()):
        print(f"ONLY-B {name}")
    for name in sorted(a.keys() & b.keys()):
        la, lb = read(a[name]), read(b[name])
        if la == lb:
            continue
        differing += 1
        print(f"DIFF {name}")
        for line in difflib.unified_diff(la, lb, a[name], b[name],
                                         n=2, lineterm=""):
            print("  " + line)
    common = len(a.keys() & b.keys())
    only = len(a.keys() ^ b.keys())
    print(f"{common} common entries, {differing} differ, {only} on one side only")
    return 0 if differing == 0 and only == 0 else 1


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
