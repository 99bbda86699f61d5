"""Expected results from DuckDB, and the check of one written result.

The expectation of a registry query is its `SparkEntry.oracleSql` text run
by DuckDB over the same generated parquet tables, reduced to a row count
and an order-insensitive hash (metrics.result_hash, the comparison rule of
the repository's oracle compare). Expectations depend only on the inputs
and the oracle text, so they are computed once per seed and cached.
"""
import hashlib
import json
import os

import duckdb

import metrics

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def connect(inputs=None):
    con = duckdb.connect()
    con.execute("SET TimeZone='UTC'")
    for t in TABLES if inputs else []:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{inputs}/{t}.parquet'")
    return con


def _summary(rel):
    cols = rel.columns
    n, h = metrics.result_hash(cols, rel.fetchall())
    return [sorted(cols), n, h]


def expectations(cache_dir, key_parts, inputs, oracles):
    """{query: [sorted columns, rows, hash]} for every oracle, cached under
    a key of `key_parts` (what fixes the inputs) and the oracle texts."""
    key = hashlib.sha256(json.dumps([key_parts, oracles], sort_keys=True)
                         .encode()).hexdigest()[:20]
    path = os.path.join(cache_dir, f"{key}.json")
    if os.path.exists(path):
        with open(path) as f:
            return json.load(f)
    con = connect(inputs)
    out = {name: _summary(con.query(sql)) for name, sql in oracles.items() if sql}
    os.makedirs(cache_dir, exist_ok=True)
    tmp = f"{path}.{os.getpid()}"
    with open(tmp, "w") as f:
        json.dump(out, f)
    os.replace(tmp, path)
    return out


def check(con, out_dir, want):
    """None when the parquet result in `out_dir` matches `want`, else why."""
    if want is None:
        return "no oracle"
    got = _summary(con.query(f"SELECT * FROM read_parquet('{out_dir}/*.parquet')"))
    if got[0] != want[0]:
        return f"columns {got[0]} != {want[0]}"
    if got[1] != want[1]:
        return f"rows {got[1]} != {want[1]}"
    if got[2] != want[2]:
        return "hash differs"
    return None
