"""BENCHMARK.json must describe exactly what run.py reports.

    python3 -m unittest discover -s perfbench/tests
"""

import json
import os
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.join(HERE, ".."))
import run  # noqa: E402
from gen import WORKLOADS  # noqa: E402

BENCHMARK = os.path.join(HERE, "..", "..", "BENCHMARK.json")


class BenchmarkJsonTest(unittest.TestCase):

    def setUp(self):
        with open(BENCHMARK) as f:
            self.bench = json.load(f)

    def test_metrics_match_what_run_reports(self):
        for key, listed in (("end_to_end", run.END_TO_END), ("per_layer", run.PER_LAYER)):
            self.assertEqual([(m["name"], m["unit"]) for m in self.bench[key]], listed, key)

    def test_workloads_exist(self):
        for w in self.bench["workloads"]:
            self.assertIn(w["name"], WORKLOADS)


if __name__ == "__main__":
    unittest.main()
