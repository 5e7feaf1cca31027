#!/usr/bin/env python3
"""Regenerate expected_counts.json: the row count each declared query's
DuckDB oracle SQL returns on the committed fixture (null for a query
without oracle SQL), computed the way tools/check_oracle.py runs the
oracle.

    python3 perfbench/gen_expected.py

Builds the benchmark first if needed. Rerun it when a declared query or
its oracle SQL changes.
"""
import json
import os
import subprocess
import sys

import duckdb

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import run  # noqa: E402

TABLES = ["region", "nation", "customer", "supplier", "part",
          "orders", "lineitem", "events", "documents", "embeddings"]


def main():
    run.build()
    out = os.path.join(run.BUILD, "oracle_sql.json")
    subprocess.run(run.java_cmd("perfbench.OracleDump", out, heap="1g"), check=True)
    oracle = json.load(open(out))
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{run.FIXTURE}/{t}.parquet'")
    counts = {}
    for name, sql in sorted(oracle.items()):
        counts[name] = None if sql is None else len(con.sql(sql).fetchall())
    with open(os.path.join(run.HERE, "expected_counts.json"), "w") as f:
        json.dump(counts, f, indent=1, sort_keys=True)
        f.write("\n")
    print(f"{len(counts)} queries, {sum(v is None for v in counts.values())} without oracle SQL")


if __name__ == "__main__":
    main()
