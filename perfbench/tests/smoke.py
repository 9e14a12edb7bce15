#!/usr/bin/env python3
"""Smoke test of the benchmark itself, on the tiny sf0.001 input set.

    python3 perfbench/tests/smoke.py

Runs every workload once untraced and once traced. Each run must exit 0,
print every metric BENCHMARK.json names for its mode with the right
unit, print failed_frac as 0, and end with a result that is correct
with no failed operation.
"""
import json
import os
import re
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)


def main():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    problems = []
    for w in spec["workloads"]:
        for trace, group in ((0, "end_to_end"), (1, "per_layer")):
            cmd = [sys.executable, os.path.join(BENCH, "run.py"), "--workload", w["name"],
                   "--seed", "1", "--seconds", "1", "--trace", str(trace), "--smoke"]
            p = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.PIPE,
                               text=True, timeout=600)
            tag = f"{w['name']} trace={trace}"
            if p.returncode != 0:
                problems.append(f"{tag}: exit {p.returncode}\n{p.stderr[-2000:]}")
                continue
            lines = p.stdout.strip().splitlines()
            result = json.loads(lines[-1])
            want = {m["name"]: m["unit"] for m in spec[group]}
            got = {k: v["unit"] for k, v in result["metrics"].items()}
            if got != want:
                problems.append(f"{tag}: metrics {sorted(got.items())} != {sorted(want.items())}")
            for name, unit in want.items():
                if not any(re.match(rf"\s+{re.escape(name)}\s+\S+ {re.escape(unit)}\b", l)
                           for l in lines):
                    problems.append(f"{tag}: {name} not printed with unit {unit}")
            if not any(re.match(r"\s+failed_frac\s+0 ratio", l) for l in lines):
                problems.append(f"{tag}: failed_frac is not printed as 0")
            if not result["correct"] or result["failed"] != 0 or result["attempted"] < 1:
                problems.append(f"{tag}: result {result}")
            print(f"{tag}: {'ok' if not problems else 'checked'}", flush=True)
    if problems:
        print("\n".join(problems), file=sys.stderr)
        sys.exit(1)
    print("smoke: all workloads ok")


if __name__ == "__main__":
    main()
