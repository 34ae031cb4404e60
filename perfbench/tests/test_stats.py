"""Unit tests for the benchmark's statistics (python3 -m unittest from
perfbench/, or python3 perfbench/run.py --self-test)."""

import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from harness import stats  # noqa: E402


class QuantileTest(unittest.TestCase):
    def test_interpolates_between_order_statistics(self):
        self.assertEqual(stats.quantile([1, 2, 3, 4, 5], 0.5), 3)
        self.assertAlmostEqual(stats.quantile([1, 2, 3, 4], 0.5), 2.5)
        self.assertAlmostEqual(stats.quantile(list(range(11)), 0.9), 9.0)
        self.assertIsNone(stats.quantile([], 0.5))

    def test_tail_needs_ten_samples_beyond_it(self):
        xs = list(range(99))
        t = stats.tail(xs, 0.9)
        self.assertIsNone(t["value"])
        self.assertEqual(t["n"], 99)
        t = stats.tail(list(range(100)), 0.9)
        self.assertAlmostEqual(t["value"], 89.1)
        self.assertEqual(t["n"], 100)
        self.assertIsNone(stats.tail(list(range(199)), 0.95)["value"])
        self.assertIsNotNone(stats.tail(list(range(200)), 0.95)["value"])
        self.assertEqual(stats.tail([], 0.9)["n"], 0)


class SpanTest(unittest.TestCase):
    def test_self_time_counts_overlapping_children_once(self):
        # parent 0..100; children 10..40 and 30..60 overlap on 30..40, and
        # a grandchild inside the first child
        spans = [[0, -1, 0, "run", 0.0, 100.0],
                 [1, 0, 0, "a", 10.0, 40.0],
                 [2, 0, 0, "b", 30.0, 60.0],
                 [3, 1, 0, "c", 15.0, 20.0]]
        st = stats.self_times(spans)
        self.assertAlmostEqual(st[0], 100 - 50)
        self.assertAlmostEqual(st[1], 30 - 5)
        self.assertAlmostEqual(st[2], 30)
        self.assertAlmostEqual(st[3], 5)

    def test_children_outside_the_parent_are_clipped(self):
        spans = [[0, -1, 0, "run", 10.0, 20.0], [1, 0, 0, "x", 5.0, 15.0]]
        self.assertAlmostEqual(stats.self_times(spans)[0], 5.0)

    def test_self_times_of_nested_spans_sum_to_the_root(self):
        spans = [[0, -1, 0, "run", 0.0, 100.0],
                 [1, 0, 0, "a", 0.0, 50.0], [2, 1, 0, "b", 10.0, 30.0],
                 [3, 0, 1, "a", 60.0, 90.0]]
        self.assertAlmostEqual(sum(stats.self_times(spans).values()), 100.0)

    def test_driver_gap_is_wall_minus_union_of_jobs(self):
        jobs = [[0, 10.0, 30.0], [1, 20.0, 40.0], [2, 70.0, 80.0],
                [3, 95.0, 120.0], [4, 200.0, 210.0]]
        # covered inside 0..100: 10..40, 70..80, 95..100 = 45
        self.assertAlmostEqual(stats.driver_gap(0.0, 100.0, jobs), 55.0)
        self.assertAlmostEqual(stats.driver_gap(0.0, 5.0, jobs), 5.0)


class MetricsTest(unittest.TestCase):
    def test_every_per_layer_metric_is_reported(self):
        res = {"setup": [[1, 2, 3], [4, 5, 6], [7, 8, 9]],
               "rec": {"samples": {"job_ms": [10.0]}, "counters": {"climbs": 5},
                       "attempted": 1, "failures": []}}
        out, _, _ = stats.per_layer("export", res)
        self.assertEqual(set(out), {n for n, _ in stats.PER_LAYER})
        self.assertEqual(out["setup.generate_ms"], 5)

    def test_end_to_end_metrics(self):
        # two kinds of job: the per-kind medians (150, 400) are averaged
        res = {"setup": [[1000, 0, 0], [3000, 0, 0], [2000, 0, 0]],
               "rec": {"samples": {"job_ms": [100.0, 200.0, 400.0],
                                   "job.canonical.snappy": [100.0, 200.0],
                                   "job.canonical.gzip": [400.0]},
                       "counters": {"climbs": 700}, "attempted": 3, "failures": []}}
        m = stats.end_to_end("export", res, 512.0)
        self.assertEqual(set(m), {n for n, _ in stats.END_TO_END})
        self.assertAlmostEqual(m["setup_s"], 2.0)
        self.assertAlmostEqual(m["items_per_s"], 1000.0)
        self.assertAlmostEqual(m["op_ms_p50"], 275.0)


if __name__ == "__main__":
    unittest.main()
