#!/usr/bin/env python3
"""Benchmark of the graft engine: three closed-loop, single-client workloads.

    python3 perfbench/run.py --workload etl-readpath --seed 1 --seconds 30 --trace 0

Builds the engine and the harness from source (once per source state),
generates the workload's inputs from the seed, runs one JVM that measures
for --seconds, checks every output for correctness outside the timed
region, and prints one JSON object as the last line of stdout. With
--trace 0 it carries the end-to-end metrics; with --trace 1 the
per-layer metrics from a traced run, whose spans are kept under
perfbench/out/ for trace_summary.py. See perfbench/README.md.
"""
import argparse
import hashlib
import json
import os
import random
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
HARNESS = os.path.join(HERE, "harness")
WORK = os.path.join(HERE, "work")
OUT = os.path.join(HERE, "out")
DATA = os.path.join(HERE, "data")
EXPECTED = os.path.join(HERE, "expected")

sys.path.insert(0, HERE)
import layers  # noqa: E402  (perfbench/layers.py)

ETL_READPATH = [
    "q01_pricing_summary", "q02_filter_project", "q03_shipping_priority",
    "q04_order_priority", "q05_local_supplier", "q06_revenue_filter",
    "q07_top_customers", "q08_window_rank", "q09_duplicate_groups",
    "q10_distinct", "q11_set_ops", "q12_rollup", "q13_anti_join",
    "q14_date_rescue", "q15_temporal", "q16_inventory", "q17_read_path",
    "q36_json_extract", "q71_geocode_enrich", "q106_category_drift",
    "q107_pseudonymize", "q126_dq_audit", "q128_winsorize",
    "q131_k_anonymity", "q133_golden_records", "q180_l_diversity",
    "q186_t_closeness", "q206_benford_audit",
]
WORKLOADS = ["etl-readpath", "stream-ingest"]
# input set under perfbench/data per workload; the smoke test uses sf0.001
INPUT_SET = {"etl-readpath": "sf0.01", "stream-ingest": "sf0.1"}

# stream-ingest: batches per pass and fresh docs per batch; batches after
# the first also carry one planted rewrite per ten fresh docs
BATCHES, FRESH_PER_BATCH = 4, 200
PLANTED_ID0 = 1_000_000

# inputs are generated this many times per run: the median is set-up
# time, and all copies must be the same bytes
GEN_REPEATS = 3
RUN_LIMIT_S = 170
# the JVM heap's ceiling and its fixed young generation; the old
# generation grows from the JVM's default start size, and the serial
# collector grows it by the live data left after a collection (not by
# collection times), so peak RSS follows the engine
MAX_HEAP, YOUNG = "3g", "256m"


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


# ---------------------------------------------------------------- build

def source_stamp():
    """Hash of every file the build reads, so a changed tree rebuilds."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(ROOT, "project"),
             os.path.join(HARNESS, "src"), os.path.join(HARNESS, "project")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HARNESS, "build.sbt")]
    for r in roots:
        for d, dirs, names in os.walk(r):
            dirs[:] = sorted(x for x in dirs if x not in ("target", "project"))
            files += [os.path.join(d, n) for n in sorted(names)
                      if n.endswith((".scala", ".sbt", ".properties", ".java"))]
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build():
    """Compiles engine + harness with sbt; returns the runtime classpath."""
    for need in ("build.sbt", os.path.join("src", "main", "scala")):
        if not os.path.exists(os.path.join(ROOT, need)):
            fail(f"engine source not found: {need} (run from a full checkout)")
    stamp_file = os.path.join(HARNESS, "target", "perfbench-build.json")
    stamp = source_stamp()
    if os.path.exists(stamp_file):
        with open(stamp_file) as f:
            cached = json.load(f)
        if cached.get("stamp") == stamp:
            return cached["classpath"]
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    env.setdefault("SBT_OPTS", "-Dsbt.override.build.repos=true -Dsbt.offline=true -Xmx2g")
    p = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
         "export harness/Runtime/fullClasspath"],
        cwd=HARNESS, env=env, stdin=subprocess.DEVNULL,
        stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True, timeout=840)
    lines = p.stdout.splitlines()
    cp = [l for l in lines if not l.startswith("[") and ".jar" in l]
    if p.returncode != 0 or not cp:
        sys.stderr.write("\n".join(lines[-40:]) + "\n")
        fail("build failed")
    os.makedirs(os.path.dirname(stamp_file), exist_ok=True)
    with open(stamp_file, "w") as f:
        json.dump({"stamp": stamp, "classpath": cp[-1]}, f)
    return cp[-1]


# --------------------------------------------------------------- inputs

def shingles(text, n=7):
    """Character n-grams, as the engine's near-dup operators shingle."""
    return {text[i:i + n] for i in range(len(text) - n + 1)}


def jaccard(a, b):
    sa, sb = shingles(a), shingles(b)
    return len(sa & sb) / len(sa | sb) if sa or sb else 1.0


def respell(url, k):
    """Same page, other spelling: scheme/host case and tracking keys."""
    scheme, rest = url.split("://", 1)
    host, path = rest.split("/", 1)
    tracking = ["utm_source=feed", "gclid=x%d" % k, "utm_medium=mail", "fbclid=z"][k % 4]
    spelled = [f"{scheme.upper()}://{host.upper()}/{path}",
               f"{scheme}://{host}/{path}?{tracking}",
               f"{scheme.upper()}://{host}/{path}?{tracking}"][k % 3]
    return spelled


def stream_inputs(seed, data_dir, out_dir):
    """Micro-batches for stream-ingest: fresh docs plus planted near-dup
    rewrites of docs from earlier batches, carrying respelled URLs.
    Returns the plan lines and what a correct engine must commit."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    docs = pq.read_table(os.path.join(data_dir, "documents.parquet"),
                         columns=["doc_id", "text", "source"]).to_pylist()
    pool = set(expected_for(data_dir)["clean_doc_ids"])
    by_id = {d["doc_id"]: d for d in docs if d["doc_id"] in pool}
    rng = random.Random(f"stream-ingest:{seed}")
    ids = sorted(by_id)
    rng.shuffle(ids)
    fresh_per = min(FRESH_PER_BATCH, len(ids) // BATCHES)
    planted_per = max(1, fresh_per // 10)
    url = {i: f"https://www.{by_id[i]['source']}.example.com/d/{i}" for i in ids}
    os.makedirs(out_dir, exist_ok=True)
    lines, batches = [], []
    next_planted = PLANTED_ID0
    for b in range(BATCHES):
        fresh = ids[b * fresh_per:(b + 1) * fresh_per]
        rows = [{"doc_id": i, "text": by_id[i]["text"], "url": url[i]} for i in fresh]
        earlier = ids[:b * fresh_per]
        rng.shuffle(earlier)
        planted = 0
        for orig in earlier:
            if planted == (planted_per if b > 0 else 0):
                break
            # one word changed: a near-duplicate well above the engine's
            # 0.6 Jaccard threshold
            words = by_id[orig]["text"].split(" ")
            pos = rng.randrange(len(words))
            nxt = words[(pos + 1) % len(words)]
            words[pos] = nxt if nxt != words[pos] else "graft"
            text = " ".join(words)
            if jaccard(text, by_id[orig]["text"]) < 0.75:
                continue
            rows.append({"doc_id": next_planted, "text": text,
                         "url": respell(url[orig], next_planted)})
            next_planted += 1
            planted += 1
        rng.shuffle(rows)
        path = os.path.join(out_dir, f"batch-{b:04d}.parquet")
        pq.write_table(pa.Table.from_pylist(rows, schema=pa.schema(
            [("doc_id", pa.int64()), ("text", pa.string()), ("url", pa.string())])),
            path, compression="snappy")
        lines.append(f"batch\t{b}\t{path}\t{len(rows)}")
        batches.append({"ids": {r["doc_id"] for r in rows}, "fresh": set(fresh)})
    return lines, {"batches": batches}


def query_inputs(workload, seed):
    """Per-pass query orders, fixed by the seed."""
    rng = random.Random(f"{workload}:{seed}")
    return [f"pass\t{i}\t{','.join(rng.sample(ETL_READPATH, len(ETL_READPATH)))}"
            for i in range(64)], None


def make_inputs(workload, seed, data_dir, work):
    """Generates the inputs GEN_REPEATS times, checks they are the same
    bytes every time, and returns (plan path, expectations, median
    generation seconds, inputs digest)."""
    times, digests, result = [], set(), None
    for k in range(GEN_REPEATS):
        gen_dir = os.path.join(work, f"inputs-{k}")
        t0 = time.perf_counter()
        if workload == "stream-ingest":
            lines, expect = stream_inputs(seed, data_dir, gen_dir)
        else:
            lines, expect = query_inputs(workload, seed)
        plan = os.path.join(gen_dir, "plan.txt")
        os.makedirs(gen_dir, exist_ok=True)
        with open(plan, "w") as f:
            f.write("\n".join(lines) + "\n")
        times.append(time.perf_counter() - t0)
        h = hashlib.sha256()
        for name in sorted(os.listdir(gen_dir)):
            if name != "plan.txt":
                with open(os.path.join(gen_dir, name), "rb") as f:
                    h.update(name.encode() + f.read())
        h.update("\n".join(l.replace(gen_dir, "") for l in lines).encode())
        digests.add(h.hexdigest())
        if result is None:
            result = (plan, expect)
        else:
            shutil.rmtree(gen_dir)
    if len(digests) != 1:
        fail("input generation is not deterministic for this seed")
    return result[0], result[1], statistics.median(times), digests.pop()


def expected_for(data_dir):
    with open(os.path.join(EXPECTED, os.path.basename(data_dir) + ".json")) as f:
        return json.load(f)


# ------------------------------------------------------------------ JVM

def java_cmd(classpath, args, work, main="perfbench.Harness"):
    opens = ["java.base/java.lang", "java.base/java.lang.invoke",
             "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
             "java.base/java.nio", "java.base/java.util", "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
             "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]
    cmd = ["java"]
    for p in opens:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd += [f"-Xmx{MAX_HEAP}", f"-Xmn{YOUNG}", "-XX:+UseSerialGC", "-Dspark.ui.enabled=false",
            "-Dspark.sql.session.timeZone=UTC", f"-Djava.io.tmpdir={tmp}",
            f"-Dspark.local.dir={tmp}", "-cp", classpath, main]
    return cmd + args


def run_jvm(classpath, args, work, deadline):
    log = os.path.join(work, "jvm.log")
    with open(log, "w") as lf:
        p = subprocess.Popen(java_cmd(classpath, args, work), cwd=work,
                             stdin=subprocess.DEVNULL, stdout=lf, stderr=subprocess.STDOUT)
        try:
            rc = p.wait(timeout=max(10, deadline - time.monotonic()))
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            rc = "timeout"
    if rc != 0:
        with open(log) as f:
            sys.stderr.write("".join(f.readlines()[-40:]))
        fail(f"harness JVM failed ({rc})")


# ---------------------------------------------------------- correctness

def canon(df):
    """Canonical value hash: columns sorted by name, cells rendered, rows
    sorted — the rule of the repository's oracle cross-check."""
    import pandas as pd
    df = df.reindex(sorted(df.columns), axis=1)

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


def describe(df):
    return {"rows": len(df), "columns": sorted(df.columns),
            "dtypes": {c: str(df[c].dtype) for c in sorted(df.columns)},
            "sha256": canon(df)}


def result_frame(path):
    import duckdb
    import glob
    files = sorted(glob.glob(os.path.join(path, "*.parquet")))
    if not files:
        return None
    return duckdb.connect().execute(f"SELECT * FROM read_parquet({files!r})").fetchdf()


def check_queries(record, work, expected):
    """(pass, query) of every query whose output differs from the
    expected digest (or that wrote none), over all passes."""
    bad = []
    for p in record["passes"]:
        for op in p["ops"]:
            if not op["ok"]:
                continue
            want = expected.get(op["name"])
            df = result_frame(os.path.join(work, "verify", str(p["index"]), op["name"]))
            got = describe(df) if df is not None else None
            if want is None or got is None or any(got[k] != want[k] for k in got):
                bad.append((p["index"], op["name"]))
    return bad


def check_stream(record, expect):
    """Per pass and batch: planted rewrites dropped, respelled URLs not
    fetched again, every fresh doc committed exactly once."""
    bad = []
    want_all = sorted(i for b in expect["batches"] for i in b["fresh"])
    want_digest = hashlib.sha256(",".join(map(str, want_all)).encode()).hexdigest()
    for p in record["passes"]:
        last = p["ops"][-1]
        corpus, fetched = last.get("corpus_ids", []), last.get("fetch_ids", [])
        digest = hashlib.sha256(",".join(map(str, corpus)).encode()).hexdigest()
        cset, fset = set(corpus), set(fetched)
        for op, b in zip(p["ops"], expect["batches"]):
            if not op["ok"]:
                continue
            ok = (cset & b["ids"] == b["fresh"] and fset & b["ids"] == b["fresh"]
                  and op["kept"] == len(b["fresh"]) and op["fetched"] == len(b["fresh"])
                  and digest == want_digest and len(corpus) == len(cset)
                  and len(fetched) == len(fset))
            if not ok:
                bad.append((p["index"], op["name"]))
    return bad


# -------------------------------------------------------------- metrics

def tail(values):
    """Highest percentile with at least 10 samples beyond it:
    (value, percentile, sample count)."""
    v = sorted(values)
    n = len(v)
    if n < 11:
        return v[-1], 100.0, n
    return v[n - 11], 100.0 * (n - 10) / n, n


def geomean(values):
    import math
    return math.exp(sum(math.log(max(x, 1e-9)) for x in values) / len(values))


def end_to_end(record, gen_s, expect):
    cold, warm = record["passes"][0], record["passes"][1:]
    pass_times = [sum(o["s"] for o in p["ops"]) for p in warm]
    samples = [o["s"] for p in warm for o in p["ops"] if o["ok"]]
    per_op = {}
    for p in warm:
        for o in p["ops"]:
            if o["ok"]:
                per_op.setdefault(o["name"], []).append(o["s"])
    tail_v, tail_p, tail_n = tail(samples)
    m = {
        "setup_s": (gen_s + record["setup_s"], "s"),
        "cold_pass_s": (sum(o["s"] for o in cold["ops"]), "s"),
        "pass_s": (statistics.median(pass_times), "s"),
        "op_p50_s": (statistics.median(samples), "s"),
        "op_tail_s": (tail_v, "s"),
        "op_geomean_s": (geomean([statistics.median(v) for v in per_op.values()]), "s"),
        "peak_rss_mb": (record["peak_rss_mb"], "MB"),
    }
    notes = {"op_tail_s": f"p{tail_p:.1f} of {tail_n} warm samples",
             "passes": f"1 cold + {len(warm)} warm"}
    if expect is not None:
        offered = sum(len(b["ids"]) for b in expect["batches"])
        notes["ingest_docs_per_s"] = f"{offered / m['pass_s'][0]:.6g} docs/s"
    return m, notes


# ----------------------------------------------------------------- main

def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--smoke", action="store_true",
                    help="run on the tiny sf0.001 input set (the benchmark's own test)")
    args = ap.parse_args()

    t_start = time.monotonic()
    deadline = t_start + RUN_LIMIT_S
    data_dir = os.path.join(DATA, "sf0.001" if args.smoke else INPUT_SET[args.workload])
    if not os.path.isdir(data_dir):
        fail(f"input set not found: {data_dir}")
    classpath = build()
    deadline = max(deadline, time.monotonic() + RUN_LIMIT_S)

    shutil.rmtree(WORK, ignore_errors=True)
    os.makedirs(WORK)
    try:
        plan, expect, gen_s, inputs_digest = make_inputs(args.workload, args.seed, data_dir, WORK)
        out = os.path.join(WORK, "record.json")
        run_jvm(classpath, [
            "--workload", args.workload, "--data", data_dir, "--plan", plan,
            "--work", WORK, "--out", out, "--seconds", str(args.seconds),
            "--trace", str(args.trace)], WORK, deadline)
        with open(out) as f:
            record = json.load(f)
        cores = record["cores"]
        os.makedirs(OUT, exist_ok=True)
        shutil.copy(out, os.path.join(OUT, f"record-{args.workload}-trace{args.trace}.json"))
        if args.workload == "stream-ingest":
            bad = check_stream(record, expect)
        else:
            bad = check_queries(record, WORK, expected_for(data_dir)["queries"])
        ops = [o for p in record["passes"] for o in p["ops"]]
        errors = [o for o in ops if not o["ok"]]
        attempted = len(ops)
        failed = len(errors) + len(bad)
        for o in errors:
            print(f"perfbench: {o['name']} failed: {o['error']}", file=sys.stderr)
        for b in bad:
            print(f"perfbench: wrong result: {b}", file=sys.stderr)

        if args.trace:
            spans = os.path.join(OUT, f"trace-{args.workload}.jsonl")
            shutil.copy(out + ".spans.jsonl", spans)
            metrics, notes = layers.per_layer(spans, record)
            metrics = {k: (v, layers.UNITS[k]) for k, v in metrics.items()}
            untraced = os.path.join(OUT, f"record-{args.workload}-trace0.json")
            if os.path.exists(untraced):
                with open(untraced) as f:
                    oh = layers.overhead(record, json.load(f))
                notes["tracing_overhead"] = (f"cold {oh['cold']:+.1%}, warm {oh['warm']:+.1%} "
                                             "against the last untraced run")
        else:
            metrics, notes = end_to_end(record, gen_s, expect)
        print(f"perfbench: workload={args.workload} seed={args.seed} trace={args.trace} "
              f"inputs_sha256={inputs_digest[:16]} cores={cores}")
        for k, (v, unit) in metrics.items():
            extra = f"  ({notes[k]})" if k in notes else ""
            print(f"  {k:<28} {v:>14.6g} {unit}{extra}")
        print(f"  {'failed_frac':<28} {failed / attempted:>14.6g} ratio  ({failed}/{attempted})")
        for k, v in notes.items():
            if k not in metrics:
                print(f"  {k:<28} {v}")
        print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                          "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}}))
    finally:
        shutil.rmtree(WORK, ignore_errors=True)


if __name__ == "__main__":
    main()
