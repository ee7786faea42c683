"""BENCHMARK.json names the workloads run.py implements and keeps
set-up's bound the largest."""

from __future__ import annotations

import json
import os
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(os.path.dirname(HERE))
sys.path.insert(0, ROOT)


class ContractTest(unittest.TestCase):
    def setUp(self):
        with open(os.path.join(ROOT, "BENCHMARK.json"),
                  encoding="utf-8") as f:
            self.spec = json.load(f)

    def test_workloads_are_implemented(self):
        from perfbench.workloads import WORKLOADS
        names = [w["name"] for w in self.spec["workloads"]]
        self.assertEqual(sorted(names), sorted(WORKLOADS))

    def test_setup_has_the_largest_bound(self):
        bounds = {m["name"]: m["bound"] for m in self.spec["end_to_end"]}
        self.assertEqual(bounds["setup_s"], max(bounds.values()))
        self.assertLessEqual(max(bounds.values()), 0.25)


if __name__ == "__main__":
    unittest.main()
