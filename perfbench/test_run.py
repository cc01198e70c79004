"""Tests of the benchmark's output contract (no Spark needed).

    python3 perfbench/test_run.py      # or: python3 -m pytest perfbench/test_run.py
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import run  # noqa: E402
from stats import tail  # noqa: E402


def benchmark_json() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


class OutputContract(unittest.TestCase):
    def _report(self, trace: bool) -> list[str]:
        e2e = {m: 1.5 for m in run.E2E_METRICS}
        layer = {m: 0.25 for m in run.LAYER_METRICS} if trace else None
        text = run.report(
            e2e, layer, lines=[("object_latency_p50_s", 0.7, "s")],
            problems=["q: differs"], attempted=12, failed=1,
        )
        return text.splitlines()

    def test_last_line_is_the_result(self):
        for trace in (False, True):
            lines = self._report(trace)
            result = json.loads(lines[-1])
            self.assertEqual(set(result), {"correct", "attempted", "failed", "metrics"})
            self.assertIs(result["correct"], False)
            self.assertEqual((result["attempted"], result["failed"]), (12, 1))
            for m in result["metrics"].values():
                self.assertEqual(set(m), {"value", "unit"})
            # every metric also has its own line, before the result
            for name, m in result["metrics"].items():
                self.assertIn(f"{name} {m['value']} {m['unit']}", lines[:-1])
            self.assertIn("object_latency_p50_s 0.7 s", lines[:-1])
            self.assertIn("FAILED q: differs", lines[:-1])

    def test_metric_sets_match_benchmark_json(self):
        spec = benchmark_json()
        e2e = json.loads(self._report(False)[-1])["metrics"]
        layer = json.loads(self._report(True)[-1])["metrics"]
        self.assertEqual(set(e2e), {m["name"] for m in spec["end_to_end"]})
        self.assertEqual(set(layer), {m["name"] for m in spec["per_layer"]})
        for m in spec["end_to_end"] + spec["per_layer"]:
            got = e2e.get(m["name"]) or layer[m["name"]]
            self.assertEqual(got["unit"], m["unit"], m["name"])

    def test_workloads_match_benchmark_json(self):
        from workloads import WORKLOADS

        self.assertEqual(set(WORKLOADS), {w["name"] for w in benchmark_json()["workloads"]})

    def test_report_rejects_missing_metrics(self):
        with self.assertRaises(ValueError):
            run.report({"setup_s": 1.0}, None, [], [], 1, 0)


class Tail(unittest.TestCase):
    def test_ten_samples_beyond(self):
        xs = [float(i) for i in range(40, 0, -1)]
        v, p, n = tail(xs)
        self.assertEqual((v, p, n), (30.0, 75.0, 40))
        self.assertEqual(sum(x > v for x in xs), 10)

    def test_few_samples_give_the_maximum(self):
        self.assertEqual(tail([3.0, 1.0, 2.0]), (3.0, 100.0, 3))


class BareDirectory(unittest.TestCase):
    def test_fails_without_the_package(self):
        bare = os.path.join(ROOT, ".perfbench", "bare")
        shutil.rmtree(bare, ignore_errors=True)
        os.makedirs(bare)
        try:
            shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
            shutil.copytree(HERE, os.path.join(bare, "perfbench"),
                            ignore=shutil.ignore_patterns("__pycache__"))
            p = subprocess.run(
                [sys.executable, "perfbench/run.py", "--workload", "silver_upserts",
                 "--seed", "1", "--seconds", "1", "--trace", "0"],
                cwd=bare, capture_output=True, text=True, timeout=120,
            )
            self.assertNotEqual(p.returncode, 0)
            self.assertNotIn('"metrics"', p.stdout)
        finally:
            shutil.rmtree(bare, ignore_errors=True)


if __name__ == "__main__":
    unittest.main()
