#!/usr/bin/env python3
"""Checks the seeded workload inputs: python3 perfbench/test_workloads.py"""
import collections
import json
import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import workloads  # noqa: E402


def kinds(stream):
    return collections.Counter(s["k"] for s in stream)


class TxnStreamTest(unittest.TestCase):
    def test_same_seed_same_stream(self):
        self.assertEqual(workloads.generate("txn", 7), workloads.generate("txn", 7))

    def test_other_seed_other_stream_same_mix(self):
        a = workloads.generate("txn", 7)["statements"]
        b = workloads.generate("txn", 8)["statements"]
        self.assertNotEqual(a, b)
        self.assertEqual(kinds(a), kinds(b))
        self.assertEqual(dict(kinds(a)), workloads.TXN_MIX)

    def test_time_travel_names_committed_snapshots(self):
        for seed in range(20):
            commits = 1
            for s in workloads.generate("txn", seed)["statements"]:
                if s["k"] == "insert":
                    commits += 1
                    self.assertTrue(1 <= len(s["rows"]) <= 50)
                elif s["k"] == "travel":
                    self.assertTrue(1 <= s["v"] <= commits)

    def test_inserted_keys_are_new_and_distinct(self):
        keys = [r[0] for s in workloads.generate("txn", 3)["statements"]
                if s["k"] == "insert" for r in s["rows"]]
        self.assertEqual(len(keys), len(set(keys)))
        self.assertTrue(all(k >= workloads.BASE_ORDERS for k in keys))


class OlapOrderTest(unittest.TestCase):
    def test_passes_permute_the_fixed_set(self):
        a = workloads.generate("olap", 1)
        self.assertEqual(a, workloads.generate("olap", 1))
        self.assertNotEqual(a["passes"], workloads.generate("olap", 2)["passes"])
        for p in a["passes"]:
            self.assertEqual(sorted(p), sorted(workloads.OLAP_PASS))
        self.assertEqual(sorted(a["warmup"]), sorted(workloads.OLAP_PASS * workloads.OLAP_WARMUP_PASSES))

    def test_goldens_cover_exactly_the_pass(self):
        with open(workloads.GOLDENS) as f:
            self.assertEqual(sorted(json.load(f)), sorted(workloads.OLAP_PASS))


if __name__ == "__main__":
    unittest.main()
