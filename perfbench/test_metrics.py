"""Self-tests of the harness's metric rules: python3 perfbench/test_metrics.py"""

import json
import os
import unittest

import metrics

HERE = os.path.dirname(os.path.abspath(__file__))


class TailTest(unittest.TestCase):
    def test_needs_ten_samples_beyond(self):
        # 20 samples: p50 leaves exactly 10 beyond, p75 only 5
        self.assertEqual(metrics.tail(list(range(1, 21))), (50.0, 10))

    def test_highest_qualifying_percentile(self):
        xs = list(range(1, 201))  # p95 leaves 10 beyond, p99 only 2
        self.assertEqual(metrics.tail(xs), (95.0, 190))

    def test_too_few_samples(self):
        self.assertIsNone(metrics.tail(list(range(10))))
        self.assertIsNone(metrics.tail([]))

    def test_ties_do_not_count_as_beyond(self):
        # 20 equal values: nothing lies beyond any percentile
        self.assertIsNone(metrics.tail([5.0] * 20))


class SelfTimeTest(unittest.TestCase):
    def test_self_time_subtracts_children(self):
        spans = [(1, 0, "op", 0.0, 10.0), (2, 1, "child", 2.0, 5.0), (3, 1, "child", 4.0, 7.0)]
        s = metrics.self_times(spans)
        self.assertAlmostEqual(s["op"], 5.0)  # children cover [2, 7] once
        self.assertAlmostEqual(s["child"], 6.0)

    def test_children_clipped_to_parent(self):
        spans = [(1, 0, "op", 0.0, 4.0), (2, 1, "late", 3.0, 9.0)]
        self.assertAlmostEqual(metrics.self_times(spans)["op"], 3.0)

    def test_grandchildren_only_reduce_their_parent(self):
        spans = [(1, 0, "a", 0.0, 10.0), (2, 1, "b", 0.0, 10.0), (3, 2, "c", 0.0, 4.0)]
        s = metrics.self_times(spans)
        self.assertEqual((s["a"], s["b"], s["c"]), (0.0, 6.0, 4.0))


class NamesTest(unittest.TestCase):
    def test_declared_metrics_are_valid(self):
        metrics.check_names(metrics.END_TO_END, metrics.PER_LAYER)

    def test_bad_name_rejected(self):
        for bad in ("", "_x", "a b", "a/b", "x" * 65):
            with self.assertRaises(ValueError):
                metrics.check_names([(bad, "s")], [])

    def test_duplicate_rejected(self):
        with self.assertRaises(ValueError):
            metrics.check_names([("a", "s")], [("a", "s")])

    def test_caps(self):
        metrics.check_names([(f"e{i}", "s") for i in range(16)], [(f"l{i}", "s") for i in range(128)])
        with self.assertRaises(ValueError):
            metrics.check_names([(f"e{i}", "s") for i in range(17)], [])
        with self.assertRaises(ValueError):
            metrics.check_names([], [(f"l{i}", "s") for i in range(129)])

    def test_benchmark_json_matches_harness(self):
        with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
            bench = json.load(f)
        self.assertEqual([(m["name"], m["unit"]) for m in bench["end_to_end"]],
                         list(metrics.END_TO_END))
        self.assertEqual([(m["name"], m["unit"]) for m in bench["per_layer"]],
                         list(metrics.PER_LAYER))


if __name__ == "__main__":
    unittest.main()
