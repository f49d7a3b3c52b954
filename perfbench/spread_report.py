#!/usr/bin/env python3
"""Record one set of runs per workload and compare it with the set before.

  python3 perfbench/spread_report.py [OUT]

Runs the benchmark untraced once per seed (1-10) on each workload, stores the
set (with its start time) in OUT, default perfbench/results/spread.json,
and prints for each end-to-end metric:

- its spread in this set: the interquartile range of the runs
  (statistics.quantiles, n=4) over their median;
- its drift from the previous set in OUT: how much worse this set's
  median is than that set's, as a share of that median.

Both are compared with the metric's bound in BENCHMARK.json. The spread
of setup_s is reported but not held to the bound.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SEEDS = range(1, 11)


def summary(runs):
    out = {}
    for k in runs[0]["metrics"]:
        v = [r["metrics"][k] for r in runs]
        q = statistics.quantiles(v, n=4)
        m = statistics.median(v)
        out[k] = {"median": m, "q1": q[0], "q3": q[2], "spread": (q[2] - q[0]) / m}
    return out


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("out", nargs="?", default=os.path.join(HERE, "results", "spread.json"))
    a = ap.parse_args()
    spec = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    metrics = {m["name"]: m for m in spec["end_to_end"]}
    report = json.load(open(a.out)) if os.path.exists(a.out) else {"sets": []}
    previous = report["sets"][-1] if report["sets"] else None
    this = {"started": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()),
            "seconds": spec["run_seconds"], "cores": os.cpu_count(), "workloads": {}}
    ok = True
    for w in (x["name"] for x in spec["workloads"]):
        runs = []
        for seed in SEEDS:
            t0 = time.time()
            p = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", w,
                                "--seed", str(seed), "--seconds", str(spec["run_seconds"]),
                                "--trace", "0"], cwd=ROOT, capture_output=True, text=True)
            if p.returncode != 0:
                raise SystemExit(f"{w} seed {seed} exited {p.returncode}: {p.stderr[-3000:]}")
            r = json.loads(p.stdout.strip().splitlines()[-1])
            runs.append({"seed": seed, "run_s": round(time.time() - t0, 1), "correct": r["correct"],
                         "attempted": r["attempted"], "failed": r["failed"],
                         "metrics": {k: v["value"] for k, v in r["metrics"].items()}})
            print(w, seed, runs[-1], flush=True)
            ok &= r["correct"]
        s = summary(runs)
        this["workloads"][w] = {"runs": runs, "summary": s}
        before = previous and previous["workloads"].get(w)
        for k, m in s.items():
            bound = metrics[k]["bound"]
            line = f"{w:15s} {k:11s} median {m['median']:10.3f} spread {m['spread']:.3f}"
            if k != "setup_s" and m["spread"] > bound:
                ok, line = False, line + " (above bound)"
            if before:
                old = before["summary"][k]["median"]
                worse = (m["median"] - old) / old
                if metrics[k]["better"] == "higher":
                    worse = -worse
                m["drift"] = worse
                line += f" drift {worse:+.3f} vs {old:.3f}"
                if worse > bound:
                    ok, line = False, line + " (above bound)"
            print(line, flush=True)
    report["sets"].append(this)
    os.makedirs(os.path.dirname(a.out), exist_ok=True)
    with open(a.out, "w") as f:
        json.dump(report, f, indent=1)
        f.write("\n")
    print("all within bounds" if ok else "NOT all within bounds")


if __name__ == "__main__":
    main()
