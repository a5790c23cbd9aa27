#!/usr/bin/env python3
"""Re-measure the DuckDB baseline over the CURRENT oracle SQL set.

Runs every SQL in <oracle_sql.json> against the parquet tables in <sfDir>
with stock DuckDB (all cores, same box as Bench), min-of-N per query with a
warmup pass, every result fully materialized via fetchall(). Prints a
per-query table and one JSON line. tools/pair.py runs it with passes=1,
Bench's warmup plus one timed pass, so its ratio compares like with like.

Usage: python3 tools/baseline.py <sfDir> <oracle_sql.json> [passes=3]
"""
import json, os, sys, time

import duckdb

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def main():
    sfdir, oracle_path = sys.argv[1], sys.argv[2]
    passes = int(sys.argv[3]) if len(sys.argv) > 3 else 3
    oracle = json.load(open(oracle_path))
    con = duckdb.connect()
    for t in TABLES:
        p = f"{sfdir}/{t}.parquet"
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    times = {}
    for name in sorted(oracle):
        sql = oracle[name]
        con.execute(sql).fetchall()  # warmup (plan cache + page cache)
        best = min(
            time_one(con, sql) for _ in range(passes)
        )
        times[name] = round(best, 4)
        print(f"{name:28s} {best:8.4f} s", flush=True)
    total = round(sum(times.values()), 3)
    print(f"{'TOTAL':28s} {total:8.3f} s  ({len(times)} queries, min-of-{passes})")
    print(json.dumps({"metric": "duckdb_oracle_total", "value": total,
                      "unit": "sec", "queries": times,
                      "sf": os.path.basename(sfdir.rstrip('/'))}))


def time_one(con, sql):
    t0 = time.perf_counter()
    con.execute(sql).fetchall()
    return time.perf_counter() - t0


if __name__ == "__main__":
    main()
