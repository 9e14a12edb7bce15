#!/usr/bin/env python3
"""Time each oracleSql entry in DuckDB on the same parquet tables —
the comparator side of BENCH_NOTES. Usage:
  duck_bench.py <sfDir> <oracle_sql.json> [out.json] [skip1,skip2,...]
"""
import json, os, sys, time
import duckdb

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def main(sf_dir, oracle_path, out_path=None, skip=""):
    skips = set(skip.split(",")) if skip else set()
    con = duckdb.connect()
    for t in TABLES:
        p = f"{sf_dir}/{t}.parquet"
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    oracles = json.load(open(oracle_path))
    times = {}
    for name in sorted(oracles):
        if name in skips:
            times[name] = -1.0
            continue
        best = None
        for _ in range(2):
            t0 = time.time()
            con.execute(oracles[name]).fetchall()
            dt = time.time() - t0
            best = dt if best is None else min(best, dt)
        times[name] = round(best, 3)
        print(f"{name:34s} {best:8.3f}", flush=True)
    total = sum(v for v in times.values() if v >= 0)
    print(f"{'TOTAL (timed)':34s} {total:8.3f}")
    if out_path:
        json.dump({"queries": times, "total": total}, open(out_path, "w"))


if __name__ == "__main__":
    if not 3 <= len(sys.argv) <= 5:
        print("usage: duck_bench.py <sfDir> <oracle_sql.json> [out.json] "
              "[skip1,skip2,...]", file=sys.stderr)
        sys.exit(2)
    main(*sys.argv[1:])
