#!/usr/bin/env python3
"""Write the committed traced run: for each workload, untraced and traced
runs on the same seed, taken in turn (three of each), the per-layer
numbers of the traced run with the median wall time, and the tracing
overhead (median traced minus median untraced wall_s).

  python3 perfbench/trace_report.py [--seed N] [--seconds S] [OUT]

OUT defaults to perfbench/results/traced_run.json.
"""
import argparse
import json
import os
import platform
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PAIRS = 3


def run(workload, seed, seconds, trace):
    p = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
                        "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
                       cwd=ROOT, capture_output=True, text=True, check=True)
    return json.loads(p.stdout.strip().splitlines()[-1])


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float)
    ap.add_argument("out", nargs="?", default=os.path.join(HERE, "results", "traced_run.json"))
    a = ap.parse_args()
    spec = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    seconds = a.seconds or spec["run_seconds"]
    report = {"seed": a.seed, "seconds": seconds, "pairs": PAIRS, "cores": os.cpu_count(),
              "machine": platform.machine(), "workloads": {}}
    for w in (x["name"] for x in spec["workloads"]):
        plain, traced = [], []
        for _ in range(PAIRS):
            plain.append(run(w, a.seed, seconds, 0))
            traced.append(run(w, a.seed, seconds, 1))
        plain_wall = [r["metrics"]["wall_s"]["value"] for r in plain]
        traced_wall = [r["metrics"]["trace.wall_s"]["value"] for r in traced]
        middle = traced[traced_wall.index(statistics.median_low(traced_wall))]
        report["workloads"][w] = {
            "untraced_wall_s": plain_wall, "traced_wall_s": traced_wall,
            "untraced": plain, "traced": middle,
            "tracing_overhead_s": statistics.median(traced_wall) - statistics.median(plain_wall),
            "unattributed_share_of_job_time":
                middle["metrics"]["exec.unattributed_share"]["value"]}
    os.makedirs(os.path.dirname(a.out), exist_ok=True)
    with open(a.out, "w") as f:
        json.dump(report, f, indent=1)
        f.write("\n")


if __name__ == "__main__":
    main()
