#!/usr/bin/env python3
"""Sets perfbench/pins.json, the digests the query workloads' outputs must match.

Usage (from the repository root): python3 perfbench/pin.py

The harness exports each benchmark query's oracle SQL (SparkEntry.oracleSql);
DuckDB runs it over the same generated tables the workload reads, and the
row count and order-independent digest of every result are pinned. Run it
again only when the query list, the table generator or an oracle changes.
"""
import json
import os
import subprocess

import duckdb

import run

TABLES = ["region", "nation", "customer", "supplier", "part",
          "orders", "lineitem", "events", "documents", "embeddings"]


def main() -> None:
    cp = run.classpath()
    work = os.path.join(run.BUILD, "work", "pin")
    os.makedirs(work, exist_ok=True)
    sql_file = os.path.join(work, "oracle_sql.json")
    subprocess.run(run.jvm(cp, "graftbench.OracleSql", [sql_file], work), check=True)
    pins = {}
    for workload, queries in json.load(open(sql_file)).items():
        data = run.tables(run.SCALE[workload])
        con = duckdb.connect()
        con.execute("SET threads=4")
        for t in TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data}/{t}.parquet')")
        for q, sql in queries.items():
            pins[q] = run.digest(con.execute(sql).df())
            print(q, pins[q])
    with open(os.path.join(run.HERE, "pins.json"), "w") as f:
        json.dump(pins, f, indent=2, sort_keys=True)
        f.write("\n")


if __name__ == "__main__":
    main()
