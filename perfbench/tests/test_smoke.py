"""Smoke tests of the benchmark itself: every workload at tiny size, untraced
and traced, must pass its checks and print exactly the metrics that
BENCHMARK.json names; and run.py must refuse a tree without the engine.

    python3 -m unittest discover -s perfbench/tests -v
"""
import json
import os
import shutil
import subprocess
import sys
import tempfile
import unittest

BENCH = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ROOT = os.path.dirname(BENCH)
RUN = os.path.join(BENCH, "run.py")


def spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def run(workload, trace):
    return subprocess.run(
        [sys.executable, RUN, "--workload", workload, "--seed", "7", "--seconds", "1",
         "--trace", str(trace), "--smoke", "1"],
        cwd=ROOT, capture_output=True, text=True, timeout=900)


class SmokeTest(unittest.TestCase):

    def check(self, workload, trace):
        p = run(workload, trace)
        self.assertEqual(p.returncode, 0, p.stderr[-3000:])
        res = json.loads(p.stdout.strip().splitlines()[-1])
        self.assertEqual(set(res), {"correct", "attempted", "failed", "metrics"})
        self.assertTrue(res["correct"])
        self.assertEqual(res["failed"], 0)
        self.assertGreaterEqual(res["attempted"], 1)
        names = [m["name"] for m in spec()["per_layer" if trace else "end_to_end"]]
        self.assertEqual(sorted(res["metrics"]), sorted(names))
        for name, m in res["metrics"].items():
            self.assertIsInstance(m["value"], (int, float), name)
        if not trace:
            for name, m in res["metrics"].items():
                self.assertGreater(m["value"], 0, name)


def _add(workload, trace):
    setattr(SmokeTest, f"test_{workload.replace('-', '_')}_trace{trace}",
            lambda self: self.check(workload, trace))


for _w in [w["name"] for w in spec()["workloads"]]:
    for _t in (0, 1):
        _add(_w, _t)


class RefuseTest(unittest.TestCase):

    def test_refuses_tree_without_engine(self):
        """Only BENCHMARK.json and the benchmark's files: fail fast, print no result."""
        os.makedirs(os.path.join(BENCH, "target"), exist_ok=True)
        with tempfile.TemporaryDirectory(dir=os.path.join(BENCH, "target")) as d:
            shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), d)
            shutil.copytree(BENCH, os.path.join(d, "perfbench"),
                            ignore=shutil.ignore_patterns("target", "out"))
            p = subprocess.run(
                [sys.executable, "perfbench/run.py", "--workload", "exact", "--seed", "1",
                 "--seconds", "1", "--trace", "0"],
                cwd=d, capture_output=True, text=True, timeout=180)
            self.assertNotEqual(p.returncode, 0)
            self.assertEqual(p.stdout.strip(), "")


if __name__ == "__main__":
    unittest.main()
