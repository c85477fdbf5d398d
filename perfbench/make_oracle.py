#!/usr/bin/env python3
"""Records the DuckDB oracle results of the dedup_queries input.

Usage (from the root of a checkout): python3 perfbench/make_oracle.py

Writes the fixed dedup_queries input tables with the benchmark's own
generator, runs each mix query's SparkEntry.oracleSql over them in DuckDB
(this takes a few minutes: some oracles are slow), and stores row counts and
digests of the normalised sorted rows in perfbench/oracle/dedup_expected.json.
Rerun it whenever the generator or an oracle query changes.
"""
import json
import os
import shutil
import subprocess
import sys

import duckdb

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import run  # noqa: E402


def main():
    jars = run.spark_jars()
    classes = run.build(jars)
    work = os.path.join(run.BUILD, "oracle-inputs")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    cp = os.pathsep.join([classes] + jars)
    subprocess.run(["java", "-XX:-UsePerfData", "-Xmx2g", f"-Djava.io.tmpdir={work}"] + run.ADD_OPENS +
                   ["-cp", cp, "perfbench.DedupQueries", work], cwd=work, check=True,
                   stdout=subprocess.DEVNULL, stderr=subprocess.DEVNULL)
    with open(os.path.join(work, "oracle_sql.json")) as f:
        oracles = json.load(f)
    con = duckdb.connect()
    run.dedup_tables(con, os.path.join(work, "data"))
    expected = {"inputs": {t: list(run.rows_digest(con, f"SELECT * FROM {t}"))
                           for t in ("documents", "embeddings")},
                "queries": {}}
    for q, sql in sorted(oracles.items()):
        expected["queries"][q] = list(run.rows_digest(con, sql))
        print(q, expected["queries"][q], flush=True)
    os.makedirs(os.path.dirname(run.ORACLE_FILE), exist_ok=True)
    with open(run.ORACLE_FILE, "w") as f:
        json.dump(expected, f, indent=1, sort_keys=True)
        f.write("\n")
    shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
