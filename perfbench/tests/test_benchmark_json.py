"""BENCHMARK.json stays in step with what run.py prints and with the
benchmark contract's limits.

    python3 -m unittest discover -s perfbench/tests
"""
import json
import os
import re
import sys
import unittest

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, HERE)

import metrics  # noqa: E402

NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")


class BenchmarkJsonTest(unittest.TestCase):
    @classmethod
    def setUpClass(cls):
        with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
            cls.doc = json.load(f)

    def test_keys_and_paths(self):
        d = self.doc
        self.assertEqual(set(d), {"command", "paths", "run_seconds", "workloads",
                                  "end_to_end", "per_layer"})
        self.assertEqual(d["paths"], ["perfbench"])
        self.assertEqual(d["command"], ["python3", "perfbench/run.py"])
        self.assertIsInstance(d["run_seconds"], int)
        self.assertTrue(1 <= d["run_seconds"] <= 60)

    def test_workloads_match_runner(self):
        import run
        names = [w["name"] for w in self.doc["workloads"]]
        self.assertEqual(tuple(names), run.WORKLOADS)
        for w in self.doc["workloads"]:
            self.assertEqual(set(w), {"name", "why"})
            self.assertLessEqual(len(w["why"]), 200)
            self.assertNotIn("\n", w["why"])

    def test_metrics_match_what_runs_print(self):
        self.assertEqual([(m["name"], m["unit"]) for m in self.doc["end_to_end"]],
                         list(metrics.END_TO_END))
        self.assertEqual([(m["name"], m["unit"]) for m in self.doc["per_layer"]],
                         list(metrics.PER_LAYER))

    def test_metric_entries(self):
        e2e, layers = self.doc["end_to_end"], self.doc["per_layer"]
        names = [m["name"] for m in e2e + layers]
        self.assertEqual(len(names), len(set(names)))
        self.assertTrue(1 <= len(e2e) <= 16 and 1 <= len(layers) <= 128)
        for m in e2e:
            self.assertEqual(set(m), {"name", "unit", "better", "bound"})
            self.assertTrue(0 < m["bound"] <= 0.25)
        for m in layers:
            self.assertEqual(set(m), {"name", "unit", "better"})
        for m in e2e + layers:
            self.assertRegex(m["name"], NAME)
            self.assertRegex(m["unit"], UNIT)
            self.assertIn(m["better"], ("higher", "lower"))
        setup = next(m for m in e2e if m["name"] == "setup_s")
        self.assertEqual((setup["unit"], setup["better"]), ("s", "lower"))
        self.assertEqual(setup["bound"], max(m["bound"] for m in e2e))


if __name__ == "__main__":
    unittest.main()
