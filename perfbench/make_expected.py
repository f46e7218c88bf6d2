#!/usr/bin/env python3
"""Regenerate data/catalog_expected.tsv: each catalog query's row count
and content hash (run.digest) on the committed sf0.01 tables, from its
DuckDB oracle SQL.

    python3 perfbench/make_expected.py

Builds the harness if needed (same build as run.py), prints the oracle
SQL with graftbench.OracleSql and runs each statement in DuckDB.
"""
import json
import os
import subprocess
import sys

import duckdb

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import run  # noqa: E402

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def main():
    spark_home = run.spark_home()
    run.build(spark_home)
    out = subprocess.run(run.java_cmd(spark_home, "graftbench.OracleSql", []),
                         check=True, capture_output=True, text=True).stdout
    oracle = json.loads(out)
    sf = os.path.join(run.DATA, "sf0.01")
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"'{os.path.join(sf, t)}.parquet'")
    lines = ["# query\trows\tcontent hash (DuckDB oracle on data/sf0.01)"]
    for name in sorted(oracle):
        n, h = run.digest(con, oracle[name])
        lines.append(f"{name}\t{n}\t{h}")
    with open(os.path.join(run.DATA, "catalog_expected.tsv"), "w") as f:
        f.write("\n".join(lines) + "\n")
    print(f"{len(oracle)} queries")


if __name__ == "__main__":
    main()
