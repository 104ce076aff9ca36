"""Output check: every distinct op result against DuckDB.

Results are canonicalized with the repository's own oracle rules
(`tools/oracle_diff.py`: typed rendering, floats rounded to 6 places,
columns in name order) and compared with DuckDB running the op's oracle SQL
over the same parquet inputs. Numbers that differ only by floating-point
summation order (relative difference at most FLOAT_REL_TOL) count as equal.

Expected results are cached per (SQL, input contents). The crawl oracle
takes DuckDB minutes per thousand documents, so `data/expected.json` records
the digest of DuckDB's canonical result for each (SQL, inputs) pair it was
run on; `python3 perfbench/run.py --record-expected` rewrites it. A pair
with no record is computed live.
"""
import glob
import hashlib
import importlib.util
import json
import os
import re

import duckdb
import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
RECORDED = os.path.join(HERE, "data", "expected.json")
FLOAT_REL_TOL = 1e-12


def load_rules(repo_root):
    path = os.path.join(repo_root, "tools", "oracle_diff.py")
    spec = importlib.util.spec_from_file_location("oracle_diff", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def sha(text):
    return hashlib.sha256(text.encode()).hexdigest()


def digest(rows):
    return sha(json.dumps([list(r) for r in rows]))


def _close(a, b):
    """Cells equal, or both numbers within FLOAT_REL_TOL of each other: a
    double SUM over ~10^5 rows at magnitude 10^10 differs between engines
    in the 5th decimal with summation order, past the 6-place rounding."""
    if a == b:
        return True
    try:
        x, y = float(a), float(b)
    except ValueError:
        return False
    return abs(x - y) <= FLOAT_REL_TOL * max(abs(x), abs(y))


def load_recorded():
    if not os.path.exists(RECORDED):
        return {}
    with open(RECORDED) as f:
        return {(r["sql_sha256"], r["inputs_sha256"]): r for r in json.load(f)}


class Checker:
    """Checks op results over one input dir. Results verified once are
    remembered by their hash (per inputs and engine sources), so repeated
    runs need not dump them again."""

    def __init__(self, repo_root, data_dir, cache_dir, sources_key):
        self.rules = load_rules(repo_root)
        self.data_dir = data_dir
        self.cache_dir = cache_dir
        os.makedirs(cache_dir, exist_ok=True)
        self._con = None
        self.file_sha = {}
        for f in sorted(glob.glob(os.path.join(data_dir, "*.parquet"))):
            with open(f, "rb") as fh:
                self.file_sha[os.path.basename(f)[:-len(".parquet")]] = \
                    hashlib.sha256(fh.read()).hexdigest()
        all_inputs = sha(json.dumps(sorted(self.file_sha.items())))
        self.known_path = os.path.join(
            cache_dir, f"verified-{sha(all_inputs + sources_key)[:24]}.tsv")
        self.known = set()
        if os.path.exists(self.known_path):
            with open(self.known_path) as f:
                self.known = {tuple(line.split()) for line in f if line.strip()}

    def remember(self, name, result_hash):
        if (name, result_hash) not in self.known:
            self.known.add((name, result_hash))
            with open(self.known_path, "a") as f:
                f.write(f"{name}\t{result_hash}\n")

    def con(self):
        if self._con is None:
            self._con = duckdb.connect()
            self._con.execute("SET TimeZone='UTC'")
            self._con.execute("SET enable_progress_bar = false")
            tmp = os.path.join(self.cache_dir, "duckdb-tmp")
            self._con.execute(f"SET temp_directory = '{tmp}'")
            for t in self.rules.TABLES:
                p = os.path.join(self.data_dir, f"{t}.parquet")
                if os.path.exists(p):
                    self._con.execute(
                        f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
        return self._con

    def run_oracle(self, sql):
        tbl = self.con().execute(sql).arrow()
        names = tbl.column_names
        return names, self.rules.canon_rows(
            names, [tuple(r[c] for c in names) for r in tbl.to_pylist()])

    def inputs_key(self, sql):
        """Content hash of the input tables `sql` names."""
        return sha(json.dumps(sorted(
            (t, h) for t, h in self.file_sha.items()
            if re.search(rf"\b{t}\b", sql))))

    def record(self, sql):
        """A digest record of DuckDB's canonical result, for expected.json."""
        names, rows = self.run_oracle(sql)
        return {"sql_sha256": sha(sql), "inputs_sha256": self.inputs_key(sql),
                "columns": names, "rows": len(rows), "digest": digest(rows)}

    def expected(self, sql):
        """(names, rows) — or (names, record) when only a recorded digest is
        known — of the oracle's canonical result."""
        key = self.inputs_key(sql)
        rec = load_recorded().get((sha(sql), key))
        if rec:
            return rec["columns"], rec
        path = os.path.join(self.cache_dir, sha(key + sql)[:24] + ".json")
        if os.path.exists(path):
            with open(path) as f:
                names, rows = json.load(f)
            return names, [tuple(r) for r in rows]
        names, rows = self.run_oracle(sql)
        with open(path + ".tmp", "w") as f:
            json.dump([names, rows], f)
        os.replace(path + ".tmp", path)
        return names, rows

    def check(self, dump_dir, sql):
        """(ok, message) for one dumped engine result."""
        files = sorted(glob.glob(os.path.join(dump_dir, "*.parquet")))
        if not files:
            return False, "no engine output"
        tbl = pq.read_table(files[0])
        e_names = tbl.column_names
        got = self.rules.canon_rows(
            e_names, [tuple(r[c] for c in e_names) for r in tbl.to_pylist()])
        o_names, want = self.expected(sql)
        if sorted(e_names) != sorted(o_names):
            return False, f"schema engine={sorted(e_names)} oracle={sorted(o_names)}"
        if isinstance(want, dict):
            if len(got) == want["rows"] and digest(got) == want["digest"]:
                return True, f"{len(got)} rows (recorded digest)"
            return False, f"{len(got)} rows vs oracle {want['rows']}; digest differs"
        if got == want:
            return True, f"{len(got)} rows"
        close = len(got) == len(want) and all(
            len(a) == len(b) and all(_close(x, y) for x, y in zip(a, b))
            for a, b in zip(got, want))
        if close:
            return True, f"{len(got)} rows (floats within {FLOAT_REL_TOL:g} relative)"
        diff = next((i for i, (a, b) in enumerate(zip(got, want)) if a != b),
                    min(len(got), len(want)))
        return False, f"{len(got)} rows vs oracle {len(want)}; first diff at row {diff}"
