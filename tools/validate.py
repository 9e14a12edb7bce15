#!/usr/bin/env python3
"""Dev-only oracle cross-check (mimics the driver's t2 gate).

Runs AFTER `sbt "runMain graft.Verify <sfDir> <outDir>"`:
reads each <outDir>/<name> parquet, runs the matching oracle SQL in
DuckDB against the same sf tables, and compares row count, schema
(column names) and a hash of the value matrix with columns sorted by
name and rows sorted canonically.

Uses driver-side python libs (duckdb/pyarrow/pandas) — this is a dev
tool, not part of the Spark library.
"""
import sys, json, glob, os, hashlib
import duckdb
import pandas as pd

TABLES = ["region","nation","customer","supplier","part","orders",
          "lineitem","events","documents","embeddings"]

def canon(df: pd.DataFrame) -> str:
    df = df.reindex(sorted(df.columns), axis=1)
    # normalize cell rendering
    def cell(v):
        if v is None or (isinstance(v, float) and pd.isna(v)):
            return "NULL"
        if isinstance(v, float):
            return repr(v)
        return str(v)
    rows = sorted(tuple(cell(v) for v in row) for row in df.itertuples(index=False, name=None))
    h = hashlib.sha256()
    for r in rows:
        h.update(("\x1f".join(r) + "\n").encode())
    return h.hexdigest()

def main(sf_dir: str, out_dir: str):
    con = duckdb.connect()
    for t in TABLES:
        p = f"{sf_dir}/{t}.parquet"
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    oracle = json.load(open(f"{out_dir}/oracle_sql.json"))
    n_pass = n_fail = 0
    for name in sorted(oracle):
        files = glob.glob(f"{out_dir}/{name}/*.parquet")
        if not files:
            print(f"FAIL {name}: no spark output"); n_fail += 1; continue
        got = con.execute(f"SELECT * FROM read_parquet({files!r})").fetchdf()
        try:
            want = con.execute(oracle[name]).fetchdf()
        except Exception as e:
            print(f"FAIL {name}: oracle error {e}"); n_fail += 1; continue
        problems = []
        if sorted(got.columns) != sorted(want.columns):
            problems.append(f"cols {sorted(got.columns)} vs {sorted(want.columns)}")
        if len(got) != len(want):
            problems.append(f"rows {len(got)} vs {len(want)}")
        if not problems and canon(got) != canon(want):
            problems.append("hash mismatch")
            merged = got.reindex(sorted(got.columns), axis=1)
            wsorted = want.reindex(sorted(want.columns), axis=1)
            print(f"  spark head:\n{merged.head(3)}\n  oracle head:\n{wsorted.head(3)}")
        # dtype visibility (driver checks schema too)
        gd = {c: str(got[c].dtype) for c in got.columns}
        wd = {c: str(want[c].dtype) for c in want.columns}
        if gd != wd:
            diff = {c: (gd.get(c), wd.get(c)) for c in set(gd)|set(wd) if gd.get(c) != wd.get(c)}
            problems.append(f"dtypes {diff}")
        if problems:
            print(f"FAIL {name}: " + "; ".join(problems)); n_fail += 1
        else:
            print(f"PASS {name} ({len(got)} rows)"); n_pass += 1
    # queries with no oracle: rows-only check
    for name in sorted(os.listdir(out_dir)):
        d = os.path.join(out_dir, name)
        if os.path.isdir(d) and name not in oracle:
            files = glob.glob(f"{d}/*.parquet")
            n = con.execute(f"SELECT count(*) FROM read_parquet({files!r})").fetchone()[0] if files else 0
            print(f"INFO {name}: no oracle, {n} rows")
    print(f"\n{n_pass} pass / {n_fail} fail")
    sys.exit(1 if n_fail else 0)

if __name__ == "__main__":
    if len(sys.argv) != 3:
        print("usage: validate.py <sfDir> <outDir>", file=sys.stderr)
        sys.exit(2)
    main(sys.argv[1], sys.argv[2])
