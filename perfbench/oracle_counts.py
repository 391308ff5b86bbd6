#!/usr/bin/env python3
"""Recomputes perfbench/data/oracle_counts.json: the row count of every
`SparkEntry.oracleSql` query, run by DuckDB over perfbench/data/sf0.01.
The registry workload checks each query's row count against it.

    python3 perfbench/oracle_counts.py

Needs the `duckdb` Python module. Queries whose oracle DuckDB cannot run
are left out and reported; the registry check falls back to "returns
rows" for them.
"""
import json
import os
import subprocess
import sys
import tempfile

import run

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def main():
    import duckdb
    classpath, jvm_opts, _ = run.build(run.build_dir())
    with tempfile.TemporaryDirectory(dir=run.build_dir()) as tmp:
        dump = os.path.join(tmp, "oracle_sql.json")
        subprocess.run(["java"] + jvm_opts + [run.HEAP, "-cp", classpath, "perfbench.Main",
                        "--dump-oracles", dump], check=True, env=run.env_for(tmp))
        oracle = json.load(open(dump))
    sf = os.path.join(run.HERE, "data", "sf0.01")
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf}/{t}.parquet'")
    counts, failed = {}, []
    for name in sorted(oracle):
        try:
            counts[name] = con.sql(f"SELECT count(*) FROM ({oracle[name]})").fetchone()[0]
        except Exception as e:  # reported below, not fatal
            failed.append(f"{name}: {str(e).splitlines()[0][:160]}")
    with open(os.path.join(run.HERE, "data", "oracle_counts.json"), "w") as fh:
        json.dump(counts, fh, indent=1, sort_keys=True)
        fh.write("\n")
    print(f"{len(counts)} oracle counts written, {len(failed)} oracles failed")
    for f in failed:
        print("  " + f, file=sys.stderr)


if __name__ == "__main__":
    main()
