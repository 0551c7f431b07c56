"""Tests for the benchmark's own logic. Run from the repository root:

    python3 -m unittest discover -s perfbench/tests
"""
import json
import os
import sys
import unittest

BENCH_DIR = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, BENCH_DIR)

import metrics  # noqa: E402
import run  # noqa: E402

MENU = [f"q{i:02d}" for i in range(16)]


class RequestOrder(unittest.TestCase):
    def test_same_seed_same_requests(self):
        self.assertEqual(metrics.request_rounds(MENU, 7, 20),
                         metrics.request_rounds(MENU, 7, 20))

    def test_other_seed_other_order(self):
        self.assertNotEqual(metrics.request_rounds(MENU, 7, 5),
                            metrics.request_rounds(MENU, 8, 5))

    def test_every_round_is_the_whole_menu(self):
        for r in metrics.request_rounds(MENU, 3, 10):
            self.assertEqual(sorted(r), sorted(MENU))


class TenBeyondRule(unittest.TestCase):
    def test_p90_needs_a_hundred_samples(self):
        self.assertEqual(metrics.tail_level(100), 0.90)
        self.assertLess(metrics.tail_level(99), 0.90)
        self.assertEqual(metrics.tail_level(5000), 0.90)

    def test_level_leaves_ten_samples_beyond(self):
        for n in range(20, 300):
            q = metrics.tail_level(n)
            values = list(range(n))
            cut = metrics.percentile(values, q)
            self.assertGreaterEqual(sum(v > cut for v in values), 10, n)
            higher = q + 0.01
            if higher <= 0.90:
                cut = metrics.percentile(values, higher)
                self.assertLess(sum(v > cut for v in values), 10, n)

    def test_too_few_samples_for_any_tail(self):
        self.assertIsNone(metrics.tail_level(19))
        self.assertEqual(metrics.tail_level(20), 0.50)

    def test_nearest_rank(self):
        self.assertEqual(metrics.percentile([5, 1, 3, 2, 4], 0.5), 3)
        self.assertEqual(metrics.percentile(list(range(1, 101)), 0.9), 90)


class SelfTime(unittest.TestCase):
    def test_children_coverage_is_subtracted(self):
        spans = [
            {"id": "r", "parent": "", "start": 0, "end": 100},
            {"id": "j1", "parent": "r", "start": 10, "end": 40},
            {"id": "j2", "parent": "r", "start": 30, "end": 60},   # overlaps j1
            {"id": "j3", "parent": "r", "start": 90, "end": 120},  # runs past r
            {"id": "s1", "parent": "j1", "start": 10, "end": 20},
        ]
        st = metrics.self_times(spans)
        self.assertEqual(st["r"], 100 - (50 + 10))
        self.assertEqual(st["j1"], 30 - 10)
        self.assertEqual(st["j2"], 30)
        self.assertEqual(st["s1"], 10)

    def test_union_of_nested_and_disjoint(self):
        self.assertEqual(metrics.union_ms([(0, 10), (2, 5), (20, 30)], 0, 100), 20)
        self.assertEqual(metrics.union_ms([], 0, 100), 0)
        self.assertEqual(metrics.union_ms([(-5, 5), (95, 105)], 0, 100), 10)


class BenchmarkJson(unittest.TestCase):
    """BENCHMARK.json declares exactly what run.py reports."""

    def setUp(self):
        with open(os.path.join(os.path.dirname(BENCH_DIR), "BENCHMARK.json")) as f:
            self.spec = json.load(f)

    def test_workloads(self):
        self.assertEqual([w["name"] for w in self.spec["workloads"]], list(run.WORKLOADS))
        for w in self.spec["workloads"]:
            ids = [q.split("_")[0] for q in run.WORKLOADS[w["name"]]]
            self.assertTrue(w["why"].endswith("Menu: " + " ".join(ids)), w["why"])

    def test_metrics_and_units(self):
        for key, declared in (("end_to_end", run.END_TO_END), ("per_layer", run.PER_LAYER)):
            self.assertEqual({m["name"]: m["unit"] for m in self.spec[key]}, declared)

    def test_direction(self):
        for m in self.spec["end_to_end"]:
            self.assertEqual(m["better"] == "higher", m["name"] in run.HIGHER_IS_BETTER)

    def test_setup_has_the_largest_bound(self):
        bounds = {m["name"]: m["bound"] for m in self.spec["end_to_end"]}
        self.assertEqual(max(bounds.values()), bounds["setup_s"])


if __name__ == "__main__":
    unittest.main()
