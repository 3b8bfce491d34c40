#!/usr/bin/env python3
"""Regenerate perfbench/expected_counts.json: the row count DuckDB gives
for each query's oracle SQL over the benchmark's tables (perfbench/data).

The batch workloads check every query's observed row count against this
file. Rerun it after a change to the tables or to a query's oracle SQL:

    python3 perfbench/make_expected_counts.py

It builds the program (as run.py does), dumps SparkEntry.oracleSql from
it, and runs each oracle query's count in DuckDB. Takes about a minute.
"""
import json
import os
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import duckdb  # noqa: E402

import run  # noqa: E402


def main():
    os.makedirs(run.BUILD, exist_ok=True)
    cp, _ = run.build()
    oracle_file = os.path.join(run.BUILD, "oracle_sql.json")
    subprocess.run([run.java(), *run.OPENS, "-cp", cp, "perfbench.Main",
                    "--dump-oracle", oracle_file], check=True)
    with open(oracle_file) as f:
        oracle = json.load(f)
    con = duckdb.connect()
    for n in sorted(os.listdir(run.DATA)):
        con.execute(f"CREATE VIEW {n.removesuffix('.parquet')} AS SELECT * FROM "
                    f"read_parquet('{os.path.join(run.DATA, n)}')")
    counts = {}
    for name, sql in sorted(oracle.items()):
        t = time.time()
        counts[name] = con.execute(f"SELECT count(*) FROM ({sql})").fetchone()[0]
        print(f"{name}: {counts[name]} rows ({time.time() - t:.1f} s)", file=sys.stderr)
    out = {"data_sha256": run.data_sha256(), "counts": counts}
    with open(os.path.join(HERE, "expected_counts.json"), "w") as f:
        json.dump(out, f, indent=1, sort_keys=True)
        f.write("\n")


if __name__ == "__main__":
    main()
