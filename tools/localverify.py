#!/usr/bin/env python3
"""Local stand-in for the driver's correctness gate (NOT shipped library
code): reads each parquet result dumped by graft.Verify, runs the matching
oracle SQL in DuckDB over the same fixture tables, and compares
(columns sorted by name, rows sorted, values exact; floats compared by
bit pattern with a small report of any diffs).

Each distinct oracle text runs once: keys that share a text (a streaming
query whose oracle is its batch twin's) are all checked against that one
expectation. Every text is timed, and the per-oracle wall-time table is
written to <outDir>/oracle_cost.json: each key holds its shared run's
time, and total_sec sums distinct texts only. Round 12's compare was
killed by a single ~10-minute oracle (pipe_lm_budget before its CTEs were
MATERIALIZED), which silently voided the certification of all 137
queries. OracleCostSpec pins a ceiling on the committed
ORACLE_COST_r{N}.json copy of this table so a budget-busting oracle
fails loudly in `sbt test` BEFORE it can zero a round.

Usage: python3 tools/localverify.py <sfDir> <outDir> [only1,only2,...]
"""
import json
import math
import sys
import time
from pathlib import Path

import duckdb

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def canon(rows, cols):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = []
    for r in rows:
        vals = []
        for i in order:
            v = r[i]
            if isinstance(v, float):
                vals.append(("f", repr(v)))
            elif hasattr(v, "isoformat"):
                vals.append(("t", v.isoformat()))
            else:
                vals.append((type(v).__name__, str(v)))
        out.append(tuple(vals))
    out.sort()
    return [c for c in sorted(cols)], out


def main(sf_dir, out_dir, only=None):
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    oracle = json.loads(Path(out_dir, "oracle_sql.json").read_text())
    if only:
        oracle = {k: v for k, v in oracle.items() if k in only}
    n_pass = n_fail = 0
    cost = {}
    runs = {}  # oracle text -> (cols, rows, seconds), or the error it raised
    for name, sql in sorted(oracle.items()):
        res_dir = Path(out_dir, name)
        if not res_dir.exists():
            print(f"FAIL {name}: no result parquet")
            n_fail += 1
            continue
        got_rel = con.query(f"SELECT * FROM '{res_dir}/*.parquet'")
        got_cols, got = canon(got_rel.fetchall(), got_rel.columns)
        if sql not in runs:
            t0 = time.time()
            try:
                want_rel = con.query(sql)
                runs[sql] = canon(want_rel.fetchall(), want_rel.columns) + (
                    round(time.time() - t0, 3),)
            except Exception as e:
                runs[sql] = e
        if isinstance(runs[sql], Exception):
            print(f"FAIL {name}: oracle error {runs[sql]}")
            n_fail += 1
            continue
        want_cols, want, dt = runs[sql]
        cost[name] = dt
        if got_cols != want_cols:
            print(f"FAIL {name}: cols {got_cols} != {want_cols}")
            n_fail += 1
        elif got != want:
            print(f"FAIL {name}: rows {len(got)} vs {len(want)}")
            diffs = [(g, w) for g, w in zip(got, want) if g != w]
            for g, w in diffs[:3]:
                print(f"   got  {g}\n   want {w}")
            if len(got) == len(want):
                print(f"   ({len(diffs)} differing rows)")
            n_fail += 1
        else:
            print(f"PASS {name} ({len(got)} rows) [{dt:.2f}s]")
            n_pass += 1
    total = round(sum(r[2] for r in runs.values()
                      if not isinstance(r, Exception)), 3)
    worst = sorted(cost.items(), key=lambda kv: -kv[1])[:10]
    print(f"== {n_pass} pass, {n_fail} fail; oracle wall {total}s, "
          f"worst: " + ", ".join(f"{k}={v}s" for k, v in worst[:5]))
    Path(out_dir, "oracle_cost.json").write_text(json.dumps({
        "sf_dir": sf_dir, "total_sec": total,
        "n_oracles": len(cost), "oracles": cost}, indent=1))
    return 1 if n_fail else 0


if __name__ == "__main__":
    only = set(sys.argv[3].split(",")) if len(sys.argv) > 3 else None
    sys.exit(main(sys.argv[1], sys.argv[2], only))
