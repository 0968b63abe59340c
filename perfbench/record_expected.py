#!/usr/bin/env python3
"""Record the expected olap_read results and cross-check them.

Runs olap_read once in record mode: each query's row count and content
hash go to perfbench/expected/olap_read-sf<scale>.json, and each
query's full output is written as parquet under .bench_build/oracle/.
Then every query that declares oracle SQL is re-run in DuckDB over the
same fixture tables, and its rows must equal Spark's rows (as a
multiset; doubles compared exactly, as the engine's float protocol
guarantees). Exits 1 on any mismatch.

Usage: record_expected.py [scale]
"""
import json
import math
import os
import subprocess
import sys

import duckdb

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import run  # noqa: E402

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def norm(v):
    if isinstance(v, float) and math.isnan(v):
        return "NaN"
    if hasattr(v, "isoformat"):
        return v.isoformat()
    return v


def rows(con, sql):
    return sorted((tuple(norm(x) for x in r) for r in con.execute(sql).fetchall()), key=repr)


def main():
    scale = sys.argv[1] if len(sys.argv) > 1 else run.SCALE
    subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", "olap_read",
                    "--seed", "1", "--seconds", "1", "--scale", scale, "--record"], check=True)
    data = run.fixtures(scale)
    out = os.path.join(run.OUT, "oracle", f"sf{scale}")
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data}/{t}.parquet')")
    oracle = json.load(open(os.path.join(out, "oracle_sql.json")))
    bad = 0
    for name in sorted(oracle):
        mine = rows(con, f"SELECT * FROM read_parquet('{out}/{name}/*.parquet')")
        try:
            ref = rows(con, oracle[name])
        except duckdb.Error as e:
            print(f"FAIL {name}: oracle sql error: {e}")
            bad += 1
            continue
        if mine == ref:
            print(f"pass {name} ({len(mine)} rows)")
        else:
            bad += 1
            print(f"FAIL {name}: spark {len(mine)} rows, duckdb {len(ref)} rows")
    print(f"== {len(oracle) - bad} pass, {bad} fail")
    sys.exit(1 if bad else 0)


if __name__ == "__main__":
    main()
