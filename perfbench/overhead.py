#!/usr/bin/env python3
"""Tracing overhead: the same runs with tracing off and on.

    python3 perfbench/overhead.py --workload wx_serve --seeds 1 2 3

Run from the repository root. For each seed it runs the workload
untraced (--trace 0) and traced (--trace 1), and prints the median
operation latency of each mode, their ratio minus one, and the median of
every per-layer metric over the traced runs.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def run(workload, seed, seconds, trace):
    out = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
        check=True, capture_output=True, text=True).stdout
    return json.loads(out.strip().splitlines()[-1])["metrics"]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", type=int, nargs="+", required=True)
    ap.add_argument("--seconds", type=float, default=10)
    a = ap.parse_args()
    plain, traced = [], []
    for s in a.seeds:
        plain.append(run(a.workload, s, a.seconds, 0))
        traced.append(run(a.workload, s, a.seconds, 1))
    p = statistics.median(m["op_p50_ms"]["value"] for m in plain)
    t = statistics.median(m["trace.op_p50_ms"]["value"] for m in traced)
    layers = {k: statistics.median(m[k]["value"] for m in traced)
              for k in traced[0]}
    print(json.dumps({"workload": a.workload, "seeds": a.seeds,
                      "op_p50_ms": {"untraced": p, "traced": t,
                                    "overhead": t / p - 1},
                      "layers": layers}))


if __name__ == "__main__":
    main()
