"""Self-tests of the benchmark: its fault injections must show up in its
own output, and the metric names it prints must be those BENCHMARK.json
declares. Every test runs the benchmark end to end, so the suite takes
several minutes:

  python3 -m unittest discover -s perfbench/tests
"""
import json
import os
import shutil
import subprocess
import sys
import unittest

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ROOT = os.path.dirname(HERE)
SPEC = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
_runs = {}


def run(workload, trace=0, inject=None, cwd=ROOT):
    """The benchmark's result line for one short run (memoized)."""
    key = (workload, trace, inject)
    if key not in _runs:
        cmd = [sys.executable, os.path.join("perfbench", "run.py"),
               "--workload", workload, "--seed", "1", "--seconds", "1",
               "--trace", str(trace)] + (["--inject", inject] if inject else [])
        p = subprocess.run(cmd, cwd=cwd, capture_output=True, text=True, timeout=900)
        if p.returncode != 0:
            raise AssertionError(f"{cmd} exited {p.returncode}: {p.stderr[-3000:]}")
        _runs[key] = json.loads(p.stdout.strip().splitlines()[-1])
    return _runs[key]


def failed_frac(r):
    return r["failed"] / r["attempted"]


class MetricNames(unittest.TestCase):
    def test_printed_metrics_match_benchmark_json(self):
        for w in (x["name"] for x in SPEC["workloads"]):
            for trace, section in ((0, "end_to_end"), (1, "per_layer")):
                with self.subTest(workload=w, trace=trace):
                    r = run(w, trace)
                    self.assertEqual(set(r), {"correct", "attempted", "failed", "metrics"})
                    want = {m["name"]: m["unit"] for m in SPEC[section]}
                    got = {k: v["unit"] for k, v in r["metrics"].items()}
                    self.assertEqual(got, want)
                    self.assertTrue(r["correct"])
                    self.assertEqual(failed_frac(r), 0)


class FaultInjection(unittest.TestCase):
    def test_corrupt_fixture_file_raises_failed_frac(self):
        self.assertEqual(failed_frac(run("pipeline_batch")), 0)
        r = run("pipeline_batch", inject="corrupt_fixture")
        self.assertGreater(failed_frac(r), 0)
        self.assertFalse(r["correct"])

    def test_failing_query_name_raises_failed_frac(self):
        self.assertEqual(failed_frac(run("query_mix")), 0)
        r = run("query_mix", inject="bad_query")
        self.assertGreater(failed_frac(r), 0)
        self.assertFalse(r["correct"])

    def test_extra_action_raises_exec_jobs(self):
        base = run("pipeline_batch", trace=1)["metrics"]["exec.jobs"]["value"]
        extra = run("pipeline_batch", trace=1, inject="extra_action")
        self.assertGreater(extra["metrics"]["exec.jobs"]["value"], base)

    def test_fails_without_the_program(self):
        bare = os.path.join(HERE, ".state", "bare")
        shutil.rmtree(bare, ignore_errors=True)
        os.makedirs(bare)
        shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
        shutil.copytree(HERE, os.path.join(bare, "perfbench"),
                        ignore=shutil.ignore_patterns(".state", "target"))
        p = subprocess.run([sys.executable, "perfbench/run.py", "--workload",
                            "query_mix", "--seed", "1", "--seconds", "1", "--trace", "0"],
                           cwd=bare, capture_output=True, text=True, timeout=180)
        shutil.rmtree(bare)
        self.assertNotEqual(p.returncode, 0)
        self.assertEqual(p.stdout.strip(), "")


if __name__ == "__main__":
    unittest.main()
