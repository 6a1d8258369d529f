"""BENCHMARK.json and run.py agree on every metric name and unit."""
import json
import os
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.join(HERE, ".."))

import run  # noqa: E402


class ContractTest(unittest.TestCase):
    def setUp(self):
        with open(os.path.join(HERE, "..", "..", "BENCHMARK.json")) as f:
            self.bench = json.load(f)

    def test_per_layer_names_and_units(self):
        self.assertEqual([m["name"] for m in self.bench["per_layer"]], run.PER_LAYER)
        for m in self.bench["per_layer"]:
            self.assertEqual(m["unit"], run.LAYER_UNITS.get(m["name"], "s"), m["name"])

    def test_end_to_end_names_and_units(self):
        for m in self.bench["end_to_end"]:
            self.assertEqual(m["unit"], run.UNITS[m["name"]], m["name"])
        self.assertEqual({m["name"] for m in self.bench["end_to_end"]}, set(run.END_TO_END))

    def test_workloads_are_runnable(self):
        for w in self.bench["workloads"]:
            self.assertIn(w["name"], run.WORKLOADS)


if __name__ == "__main__":
    unittest.main()
