"""Per-layer metrics and self times from a traced run's span file.

Spans (one JSON object per line, written by the harness) nest
run -> pass -> op (query or batch) -> phase -> job -> stage. A span's
self time is its duration minus the part of it its children cover.
Per-layer metrics are per-pass totals, the median over the warm passes,
except the codegen and JIT counters, which come from the cold pass.
"""
import json
import statistics
from collections import defaultdict

UNITS = {
    "session.start_s": "s",
    "build.s": "s", "build.self_s": "s", "build.jobs": "count",
    "plan.s": "s", "plan.nodes": "count", "plan.exchanges": "count",
    "codegen.compile_s": "s", "codegen.classes": "count", "jit.compile_s": "s",
    "exec.s": "s", "exec.jobs": "count",
    "stages.count": "count", "tasks.count": "count", "tasks.run_s": "s",
    "tasks.cpu_s": "s", "tasks.gc_s": "s", "tasks.wait_s": "s",
    "tasks.tiny_frac": "ratio", "slots.busy_frac": "ratio",
    "shuffle.stages": "count", "shuffle.write_bytes": "bytes",
    "shuffle.read_bytes": "bytes", "shuffle.fetch_wait_s": "s", "spill.bytes": "bytes",
    "materialize.rdds": "count", "materialize.mem_bytes": "bytes",
    "scan.rows": "count", "scan.bytes": "bytes",
    "sink.rows": "count", "sink.bytes": "bytes",
    "stream.corpus_batch_s": "s", "stream.frontier_batch_s": "s",
    "stream.jobs_per_batch": "count", "stream.shuffle_stages_per_batch": "count",
    "stream.kept_frac": "ratio",
    "jvm.gc_s": "s",
}

# task counters summed per stage by the harness -> metric name
STAGE_SUMS = {
    "tasks": "tasks.count", "run_s": "tasks.run_s", "cpu_s": "tasks.cpu_s",
    "gc_s": "tasks.gc_s", "wait_s": "tasks.wait_s",
    "shuffle_write_bytes": "shuffle.write_bytes", "shuffle_read_bytes": "shuffle.read_bytes",
    "fetch_wait_s": "shuffle.fetch_wait_s", "spill_bytes": "spill.bytes",
    "scan_rows": "scan.rows", "scan_bytes": "scan.bytes",
    "sink_rows": "sink.rows", "sink_bytes": "sink.bytes",
}


def load(path):
    with open(path) as f:
        return [json.loads(line) for line in f if line.strip()]


def dur(s):
    return max(0, s["end"] - s["start"]) / 1e6


def covered(intervals):
    """Length of the union of (start, end) intervals, in seconds."""
    total, cur_s, cur_e = 0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total / 1e6


class Tree:
    def __init__(self, spans):
        self.spans = spans
        self.children = defaultdict(list)
        for s in spans:
            self.children[s["parent"]].append(s)

    def self_time(self, s):
        kids = [(max(k["start"], s["start"]), min(k["end"], s["end"]))
                for k in self.children[s["id"]] if k["end"] > k["start"]]
        return max(0.0, dur(s) - covered([k for k in kids if k[1] > k[0]]))


def pass_metrics(tree, p, cores):
    m = defaultdict(float)
    ops = [s for s in tree.children[p["id"]] if s["kind"] == "op"]
    stream_batches = []
    for op in ops:
        a = op["attrs"]
        m["materialize.rdds"] += a.get("materialize_rdds", 0)
        m["materialize.mem_bytes"] += a.get("materialize_mem_bytes", 0)
        m["jvm.gc_s"] += a.get("gc_s", 0)
        m["codegen.classes"] += a.get("codegen_classes", 0)
        m["codegen.compile_s"] += a.get("codegen_s", 0)
        m["jit.compile_s"] += a.get("jit_s", 0)
        m["plan.s"] += a.get("plan_s", 0)
        m["plan.nodes"] += a.get("plan_nodes", 0)
        m["plan.exchanges"] += a.get("plan_exchanges", 0)
        batch = {"jobs": 0, "shuffle_stages": 0}
        for ph in tree.children[op["id"]]:
            if ph["kind"] != "phase" or ph["name"] == "verify":
                continue
            jobs = [j for j in tree.children[ph["id"]] if j["kind"] == "job"]
            stages = [st for j in jobs for st in tree.children[j["id"]]]
            shuffle = sum(1 for st in stages if st["attrs"].get("shuffle_write_rows", 0) > 0
                          or st["attrs"].get("shuffle_write_bytes", 0) > 0)
            name = ph["name"]
            if name == "build":
                m["build.s"] += dur(ph)
            if name == "exec":
                # the write's own optimization and planning are plan.s
                m["exec.s"] += max(0.0, dur(ph) - a.get("plan_s", 0))
            if name in ("build", "exec"):
                m[f"{name}.jobs"] += len(jobs)
            if name == "build":
                m["build.self_s"] += tree.self_time(ph)
            if name in ("corpus", "frontier"):
                batch[name] = dur(ph)
                batch["jobs"] += len(jobs)
                batch["shuffle_stages"] += shuffle
            m["stages.count"] += len(stages)
            m["shuffle.stages"] += shuffle
            for st in stages:
                for k, metric in STAGE_SUMS.items():
                    m[metric] += st["attrs"].get(k, 0)
                m["_tiny"] += st["attrs"].get("tiny_tasks", 0)
        if "corpus" in batch:
            batch["kept"], batch["offered"] = a.get("kept", 0), a.get("offered", 0)
            stream_batches.append(batch)
    m["tasks.tiny_frac"] = m.pop("_tiny") / m["tasks.count"] if m["tasks.count"] else 0.0
    m["slots.busy_frac"] = m["tasks.run_s"] / (dur(p) * cores) if dur(p) > 0 else 0.0
    if stream_batches:
        med = lambda k: statistics.median(b[k] for b in stream_batches)  # noqa: E731
        m["stream.corpus_batch_s"] = med("corpus")
        m["stream.frontier_batch_s"] = med("frontier")
        m["stream.jobs_per_batch"] = med("jobs")
        m["stream.shuffle_stages_per_batch"] = med("shuffle_stages")
        offered = sum(b["offered"] for b in stream_batches)
        m["stream.kept_frac"] = sum(b["kept"] for b in stream_batches) / offered if offered else 0.0
    return m


def per_layer(span_path, record):
    """Every per-layer metric of UNITS for one traced run, plus notes
    naming the metrics a workload does not exercise."""
    tree = Tree(load(span_path))
    passes = sorted((s for s in tree.spans if s["kind"] == "pass"), key=lambda s: s["start"])
    cores = record["cores"]
    per_pass = [pass_metrics(tree, p, cores) for p in passes]
    cold, warm = per_pass[0], per_pass[1:] or per_pass[:1]
    out = {}
    for k in UNITS:
        if k == "session.start_s":
            out[k] = record["session_s"]
        elif k in ("codegen.compile_s", "codegen.classes", "jit.compile_s"):
            out[k] = cold.get(k, 0.0)
        else:
            out[k] = statistics.median(p.get(k, 0.0) for p in warm)
    idle = [k for k in UNITS if out[k] == 0]
    notes = {"zero": "not exercised by this workload: " + ", ".join(idle)} if idle else {}
    unattributed = sum(1 for s in tree.spans if s["kind"] == "job" and s["parent"] == 0)
    if unattributed:
        notes["unattributed_jobs"] = str(unattributed)
    return out, notes


def overhead(traced_record, untraced_record):
    """Traced over untraced pass time, cold and warm, minus one."""
    def times(r):
        ps = [sum(o["s"] for o in p["ops"]) for p in r["passes"]]
        return ps[0], statistics.median(ps[1:]) if len(ps) > 1 else ps[0]
    (tc, tw), (uc, uw) = times(traced_record), times(untraced_record)
    return {"cold": tc / uc - 1, "warm": tw / uw - 1}
