#!/usr/bin/env python3
"""Where the time went: per-layer self times from traced runs.

    python3 perfbench/run.py --workload etl-readpath --seed 1 --seconds 30 --trace 0
    python3 perfbench/run.py --workload etl-readpath --seed 1 --seconds 30 --trace 1
    python3 perfbench/trace_summary.py [perfbench/out/trace-<workload>.jsonl ...]

Reads the span files traced runs leave in perfbench/out/ (all of them
by default) and prints, per workload, the self time of each layer in
the cold pass and the median warm pass, and the tracing overhead: the
traced run's pass times against the last untraced run of the workload.
A perf change shows where its saving landed by diffing this output.
"""
import glob
import json
import os
import statistics
import sys
from collections import defaultdict

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import layers  # noqa: E402

# span kind / phase name -> the layer (module) it stands for
LAYER = {
    "pass": "harness: cache drops, counter reads",
    "op": "harness: gaps between phases",
    "phase:read": "sources: batch file read, outside Spark jobs",
    "phase:build": "queries: build call, outside Spark jobs",
    "plan": "Catalyst + plans: the write's optimization and planning",
    "phase:exec": "execute: outside Spark jobs and planning",
    "phase:corpus": "streaming.CorpusIngest: outside Spark jobs",
    "phase:frontier": "streaming.FrontierIngest: outside Spark jobs",
    "job": "scheduler: job time not covered by stages",
    "stages": "tasks: stage time (union within each job)",
}


def self_times(tree, p):
    """Self seconds per layer for one pass; verify writes are left out."""
    out = defaultdict(float)
    by_id = {s["id"]: s for s in tree.spans}
    stack = [p]
    while stack:
        s = stack.pop()
        if s["kind"] == "verify" or s["end"] < 0:
            continue
        kids = tree.children[s["id"]]
        if s["kind"] == "job":
            out["job"] += tree.self_time(s)
            out["stages"] += layers.covered([(k["start"], k["end"]) for k in kids
                                             if k["end"] > k["start"]])
            continue
        key = f"phase:{s['name']}" if s["kind"] == "phase" else s["kind"]
        own = tree.self_time(s)
        if key == "phase:exec":
            # planning runs inside the write call, outside its jobs
            plan = min(own, by_id[s["parent"]]["attrs"].get("plan_s", 0))
            out["plan"] += plan
            own -= plan
        out[LAYER.get(key, key)] += own
        stack.extend(kids)
    return {LAYER.get(k, k): v for k, v in out.items()}


def summarize(path):
    workload = os.path.basename(path)[len("trace-"):-len(".jsonl")]
    tree = layers.Tree(layers.load(path))
    passes = sorted((s for s in tree.spans if s["kind"] == "pass"), key=lambda s: s["start"])
    if not passes:
        print(f"{workload}: no passes in {path}")
        return
    per_pass = [self_times(tree, p) for p in passes]
    names = sorted({k for d in per_pass for k in d}, key=lambda k: -per_pass[0].get(k, 0))
    warm = per_pass[1:]
    print(f"== {workload}: {len(passes)} passes (1 cold + {len(warm)} warm), self seconds per pass")
    print(f"   {'layer':<50} {'cold':>9} {'warm':>9}")
    for k in names:
        w = statistics.median(d.get(k, 0.0) for d in warm) if warm else float("nan")
        print(f"   {k:<50} {per_pass[0].get(k, 0.0):>9.3f} {w:>9.3f}")
    total_c = layers.dur(passes[0])
    total_w = statistics.median(layers.dur(p) for p in passes[1:]) if warm else float("nan")
    print(f"   {'pass wall':<50} {total_c:>9.3f} {total_w:>9.3f}")
    rec = {t: os.path.join(HERE, "out", f"record-{workload}-trace{t}.json") for t in (0, 1)}
    if all(os.path.exists(p) for p in rec.values()):
        with open(rec[1]) as f1, open(rec[0]) as f0:
            oh = layers.overhead(json.load(f1), json.load(f0))
        print(f"   tracing overhead: cold {oh['cold']:+.1%}, warm {oh['warm']:+.1%} "
              "(traced run against the last untraced run)")
    else:
        print("   tracing overhead: no untraced record of this workload in perfbench/out")


def main():
    paths = sys.argv[1:] or sorted(glob.glob(os.path.join(HERE, "out", "trace-*.jsonl")))
    if not paths:
        sys.exit("usage: trace_summary.py [trace-<workload>.jsonl ...] "
                 "(no span files in perfbench/out: run the benchmark with --trace 1)")
    for p in paths:
        if not os.path.exists(p):
            sys.exit(f"trace_summary.py: no such span file: {p}")
        summarize(p)


if __name__ == "__main__":
    main()
