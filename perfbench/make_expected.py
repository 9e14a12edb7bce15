#!/usr/bin/env python3
"""Regenerates perfbench/expected/<input set>.json, the correctness
reference the benchmark checks every run against.

    python3 perfbench/make_expected.py

For each input set it records:
  - queries: per etl-readpath query, the row count, columns, dtypes and
    canonical value hash of the DuckDB oracle's answer (the engine's own
    oracle SQL, run by DuckDB over the same parquet tables);
  - clean_doc_ids: the documents with no near-duplicate partner (exact
    character-7-gram Jaccard >= 0.5 with any other document), the pool
    stream-ingest draws its fresh documents from, so that only the
    planted rewrites are near-duplicates.

Run it only when the input sets or the queries' oracle SQL change.
"""
import json
import os
import subprocess
import sys

import run  # perfbench/run.py

NEAR_DUP = 0.5


def oracle_sql(classpath, names):
    cmd = run.java_cmd(classpath, names, run.WORK, main="perfbench.OracleSql")
    p = subprocess.run(cmd, cwd=run.WORK, stdin=subprocess.DEVNULL,
                       stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True, check=True)
    return json.loads(p.stdout.strip().splitlines()[-1])


def query_digests(data_dir, sqls):
    import duckdb
    con = duckdb.connect()
    for f in sorted(os.listdir(data_dir)):
        if f.endswith(".parquet"):
            con.execute(f"CREATE VIEW {f[:-8]} AS SELECT * FROM "
                        f"read_parquet('{os.path.join(data_dir, f)}')")
    return {n: dict(run.describe(con.execute(sql).fetchdf()), source="duckdb oracle")
            for n, sql in sorted(sqls.items())}


def clean_doc_ids(path):
    """Exact all-pairs Jaccard from the document x shingle incidence
    matrix (the shingle vocabulary of these documents is small)."""
    import numpy as np
    import pyarrow.parquet as pq
    docs = pq.read_table(path, columns=["doc_id", "text"]).to_pylist()
    sets = [run.shingles(d["text"] or "") for d in docs]
    vocab = {g: k for k, g in enumerate(sorted(set().union(*sets)))}
    m = np.zeros((len(docs), len(vocab)), dtype=np.float32)
    for i, s in enumerate(sets):
        m[i, [vocab[g] for g in s]] = 1.0
    inter = m @ m.T
    size = m.sum(axis=1)
    jac = inter / np.maximum(size[:, None] + size[None, :] - inter, 1.0)
    np.fill_diagonal(jac, 0.0)
    dirty = (jac >= NEAR_DUP).any(axis=1)
    return sorted(d["doc_id"] for d, bad in zip(docs, dirty) if not bad)


def main():
    classpath = run.build()
    os.makedirs(run.WORK, exist_ok=True)
    os.makedirs(run.EXPECTED, exist_ok=True)
    try:
        sqls = oracle_sql(classpath, run.ETL_READPATH)
    finally:
        run.shutil.rmtree(run.WORK, ignore_errors=True)
    missing = sorted(set(run.ETL_READPATH) - set(sqls))
    if missing:
        sys.exit(f"no oracle SQL for: {missing}")
    for name in sorted(os.listdir(run.DATA)):
        data_dir = os.path.join(run.DATA, name)
        out = {}
        if os.path.exists(os.path.join(data_dir, "lineitem.parquet")):
            out["queries"] = query_digests(data_dir, sqls)
        if os.path.exists(os.path.join(data_dir, "documents.parquet")):
            out["clean_doc_ids"] = clean_doc_ids(os.path.join(data_dir, "documents.parquet"))
        with open(os.path.join(run.EXPECTED, f"{name}.json"), "w") as f:
            json.dump(out, f, indent=1, sort_keys=True)
            f.write("\n")
        print(f"{name}: {len(out.get('queries', {}))} query digests, "
              f"{len(out.get('clean_doc_ids', []))} clean documents")


if __name__ == "__main__":
    main()
