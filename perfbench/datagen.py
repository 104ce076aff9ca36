"""Benchmark inputs. The seed orders the ops; the data is fixed.

- `tpch(dir)`: TPC-H sf0.1 from DuckDB's `dbgen`, cast to the engine's
  fixture schema (doubles for money, microsecond timestamps for dates). The
  non-TPC-H tables the catalog also registers come from the base document
  corpus (`data/documents.parquet`) and small generated stand-ins.
- `crawl_corpus(dir, tpch_dir)`: COPIES disjoint copies of the base corpus
  (1,250 documents). Copy i shifts ids by `i * 97 * 89`, so the id-residue
  planting rules (`% 97` truncated payloads, `% 89` string ids) fire at the
  same rate, and stays below the planted duplicate offsets (+1M, +2M). Copy
  i suffixes every token with `x<i>`, so copies share no token and no stage
  can collapse them. The size (2 x 1,250 = 2,500 documents) is set by the
  run budget: at 4 x 5,000 one streaming op takes ~26 s on 4 cores, and
  DuckDB needs ~0.1 s per document for the crawl oracle.
"""
import os
import shutil

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
BASE_CORPUS = os.path.join(HERE, "data", "documents.parquet")

TPCH_SCHEMA = {
    "region": [("r_regionkey", pa.int32()), ("r_name", pa.string())],
    "nation": [("n_nationkey", pa.int32()), ("n_name", pa.string()),
               ("n_regionkey", pa.int32())],
    "customer": [("c_custkey", pa.int64()), ("c_name", pa.string()),
                 ("c_nationkey", pa.int32()), ("c_acctbal", pa.float64()),
                 ("c_mktsegment", pa.string())],
    "supplier": [("s_suppkey", pa.int64()), ("s_name", pa.string()),
                 ("s_nationkey", pa.int32()), ("s_acctbal", pa.float64())],
    "part": [("p_partkey", pa.int64()), ("p_name", pa.string()),
             ("p_brand", pa.string()), ("p_type", pa.string()),
             ("p_size", pa.int32()), ("p_retailprice", pa.float64())],
    "orders": [("o_orderkey", pa.int64()), ("o_custkey", pa.int64()),
               ("o_orderstatus", pa.string()), ("o_totalprice", pa.float64()),
               ("o_orderdate", pa.timestamp("us")),
               ("o_orderpriority", pa.string())],
    "lineitem": [("l_orderkey", pa.int64()), ("l_partkey", pa.int64()),
                 ("l_suppkey", pa.int64()), ("l_linenumber", pa.int32()),
                 ("l_quantity", pa.float64()), ("l_extendedprice", pa.float64()),
                 ("l_discount", pa.float64()), ("l_tax", pa.float64()),
                 ("l_returnflag", pa.string()), ("l_linestatus", pa.string()),
                 ("l_shipdate", pa.timestamp("us"))],
}
TPCH_TABLES = list(TPCH_SCHEMA)

COPIES = 2
STRIDE = 97 * 89  # both planting residues survive a shift by this
PLANTED_OFFSET = 1_000_000


def _write(table, path):
    tmp = path + ".tmp"
    pq.write_table(table, tmp)
    os.replace(tmp, path)


def tpch(out_dir):
    """Generate the TPC-H dir once; later calls reuse it."""
    done = os.path.join(out_dir, "_DONE")
    if os.path.exists(done):
        return out_dir
    shutil.rmtree(out_dir, ignore_errors=True)
    os.makedirs(out_dir)
    con = duckdb.connect()
    con.execute("SET enable_progress_bar = false")
    con.execute("CALL dbgen(sf=0.1)")
    for t, cols in TPCH_SCHEMA.items():
        names = ", ".join(c for c, _ in cols)
        tbl = con.execute(f"SELECT {names} FROM {t}").arrow()
        _write(tbl.cast(pa.schema(cols)), os.path.join(out_dir, f"{t}.parquet"))
    shutil.copyfile(BASE_CORPUS, os.path.join(out_dir, "documents.parquet"))
    # registered by the catalog, read by no benchmark op
    con.execute("""CREATE TABLE events AS SELECT
        CAST(i AS BIGINT) AS event_id,
        TIMESTAMP '2024-01-01 00:00:00' + i * INTERVAL 1 MINUTE AS ts,
        CAST(i % 50 AS BIGINT) AS user_id,
        ['click', 'view', 'purchase'][1 + i % 3] AS event_type,
        CAST(i % 17 AS DOUBLE) AS value, '{}' AS props
        FROM range(1000) r(i)""")
    _write(con.execute("SELECT * FROM events").arrow().cast(pa.schema([
        ("event_id", pa.int64()), ("ts", pa.timestamp("us")),
        ("user_id", pa.int64()), ("event_type", pa.string()),
        ("value", pa.float64()), ("props", pa.string())])),
        os.path.join(out_dir, "events.parquet"))
    con.execute("""CREATE TABLE embeddings AS SELECT CAST(i AS BIGINT) AS vec_id,
        [CAST(sin(i + k) AS FLOAT) FOR k IN range(8)] AS embedding,
        CAST(i % 4 AS INTEGER) AS label FROM range(100) r(i)""")
    _write(con.execute("SELECT * FROM embeddings").arrow().cast(pa.schema([
        ("vec_id", pa.int64()), ("embedding", pa.list_(pa.float32())),
        ("label", pa.int32())])), os.path.join(out_dir, "embeddings.parquet"))
    open(done, "w").close()
    return out_dir


def crawl_corpus(out_dir, tpch_dir):
    """The scaled corpus, in a dir the catalog can attach (the TPC-H tables
    hard-linked beside it). Returns (dir, docs, bytes)."""
    base = pq.read_table(BASE_CORPUS)
    max_id = max(base.column("doc_id").to_pylist())
    assert max_id < STRIDE and (COPIES - 1) * STRIDE + max_id < PLANTED_OFFSET
    d = os.path.join(out_dir, f"copies{COPIES}")
    path = os.path.join(d, "documents.parquet")
    if not os.path.exists(os.path.join(d, "_DONE")):
        shutil.rmtree(d, ignore_errors=True)
        os.makedirs(d)
        for name in os.listdir(tpch_dir):
            if name.endswith(".parquet") and name != "documents.parquet":
                os.link(os.path.join(tpch_dir, name), os.path.join(d, name))
        con = duckdb.connect()
        con.register("base", base)
        parts = [f"""SELECT doc_id + {i * STRIDE} AS doc_id,
                  regexp_replace(text, '(\\S+)', '\\1x{i}', 'g') AS text,
                  lang, source FROM base""" for i in range(COPIES)]
        tbl = con.execute(
            "SELECT doc_id, text, lang, source, CAST(length(text) AS BIGINT) AS n_chars "
            f"FROM ({' UNION ALL '.join(parts)}) ORDER BY doc_id").arrow()
        _write(tbl.cast(base.schema.remove_metadata()), path)
        open(os.path.join(d, "_DONE"), "w").close()
    docs = pq.read_metadata(path).num_rows
    return d, docs, os.path.getsize(path)
