#!/usr/bin/env python3
"""Recomputes perfbench/oracle.json: for every query query_mix times, the
digest and row count of its DuckDB oracle answer over the benchmark
fixture (fixture.py), canonicalized as run.py canonicalizes the program's
output. A query without oracle SQL is stored without a digest and gets
the rows-only check.

    python3 perfbench/make_oracle.py

Run it from the repository root after changing fixture.py, an oracle, or
the query list (QueryWorkload.Queries).
"""
import json
import os
import subprocess
import sys
import time

import run
import fixture

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def main():
    cp = run.build()
    work = os.path.join(run.BUILD, "oracle")
    os.makedirs(work, exist_ok=True)
    data = os.path.join(work, "data")
    fixture.generate(data)
    sql_path = os.path.join(work, "oracle_sql.json")
    subprocess.run(["java", "-cp", cp, "perfbench.OracleSql", sql_path], check=True)
    with open(sql_path) as f:
        sqls = json.load(f)

    import duckdb
    con = duckdb.connect()
    # spill inside the build directory
    con.execute(f"SET temp_directory = '{work}/duckdb_tmp'")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data}/{t}.parquet')")
    out = {}
    for name in sorted(sqls):
        sql = sqls[name]
        if sql is None:
            out[name] = {"sha256": None, "why": "no oracle SQL"}
            continue
        t0 = time.time()
        digest, rows = run.canon_digest(con, sql)
        out[name] = {"sha256": digest, "rows": rows}
        print(f"{name}: {rows} rows ({time.time() - t0:.1f} s)", file=sys.stderr)
    with open(os.path.join(run.HERE, "oracle.json"), "w") as f:
        json.dump(out, f, indent=1, sort_keys=True)
        f.write("\n")


if __name__ == "__main__":
    main()
