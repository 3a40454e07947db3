"""Tests of the benchmark's statistics helpers.

    python3 -m unittest discover -s perfbench/tests
"""
import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import stats  # noqa: E402


class PercentileTest(unittest.TestCase):
    def test_nearest_rank(self):
        xs = list(range(1, 101))
        self.assertEqual(stats.percentile(xs, 50), 50)
        self.assertEqual(stats.percentile(xs, 95), 95)
        self.assertEqual(stats.percentile(list(reversed(xs)), 95), 95)
        self.assertEqual(stats.percentile([7.0], 95), 7.0)

    def test_tail_pct_needs_ten_samples_beyond(self):
        self.assertEqual(stats.tail_pct(200), 95)   # 10 beyond p95
        self.assertEqual(stats.tail_pct(199), 90)   # 9.95 beyond p95 is too few
        self.assertEqual(stats.tail_pct(100), 90)
        self.assertEqual(stats.tail_pct(40), 75)
        self.assertEqual(stats.tail_pct(20), 50)
        self.assertIsNone(stats.tail_pct(19))

    def test_tail_value(self):
        xs = [float(i) for i in range(1, 201)]
        self.assertEqual(stats.tail(xs), (95, 190.0))
        self.assertEqual(stats.tail([3.0, 1.0, 2.0]), (50, 2.0))

    def test_gmean_and_tail_mean(self):
        self.assertAlmostEqual(stats.gmean([1.0, 100.0]), 10.0)
        xs = [float(i) for i in range(1, 21)]       # 10% of 20 = 2 slowest
        self.assertEqual(stats.tail_mean(xs), 19.5)
        self.assertEqual(stats.tail_mean([5.0, 1.0]), 5.0)  # at least one

    def test_median(self):
        self.assertEqual(stats.median([3, 1, 2]), 2)
        self.assertEqual(stats.median([4, 1, 2, 3]), 2.5)


class SelfTimeTest(unittest.TestCase):
    def test_nested_spans(self):
        ms = 1_000_000
        spans = [
            # name, start, end, id, parent, request
            ("op.search", 0, 10 * ms, 1, 0, 7),
            ("rest.search", 1 * ms, 6 * ms, 2, 1, 7),
            ("spark.job", 2 * ms, 4 * ms, 3, 2, 7),
            ("engine.search", 6 * ms, 9 * ms, 4, 1, 7),
            ("spark.job", 7 * ms, 8 * ms, 5, 4, 7),
        ]
        by_name, by_layer = stats.self_times(spans)
        self.assertAlmostEqual(by_name["op.search"], 2.0)      # 10 - 5 - 3
        self.assertAlmostEqual(by_name["rest.search"], 3.0)    # 5 - 2
        self.assertAlmostEqual(by_name["engine.search"], 2.0)  # 3 - 1
        self.assertAlmostEqual(by_name["spark.job"], 3.0)      # leaves: 2 + 1
        self.assertEqual(by_layer, {"op": 2.0, "rest": 3.0, "engine": 2.0, "spark": 3.0})
        # self times partition the root span
        self.assertAlmostEqual(sum(by_layer.values()), 10.0)

    def test_self_time_never_negative(self):
        # job intervals come from ms-resolution event times and may
        # overhang their parent span
        spans = [("rest.get", 0, 1_000_000, 1, 0, 0), ("spark.job", 0, 2_000_000, 2, 1, 0)]
        self.assertEqual(stats.self_times(spans)[0]["rest.get"], 0.0)

    def test_durations_by_request(self):
        spans = [("rest.search", 0, 3_000_000, 1, 0, 4), ("engine.search", 0, 1_000_000, 2, 0, 4)]
        self.assertEqual(stats.durations(spans, "rest.search"), {4: 3.0})


class MetricDeltaTest(unittest.TestCase):
    def test_deltas_of_metrics_bodies(self):
        import json
        before = json.loads('{"local_serve_hits": 10, "local_serve_misses": 2, '
                            '"point_run_opens": 5, "point_bloom_max_bytes": 1048576}')
        after = json.loads('{"local_serve_hits": 25, "local_serve_misses": 3, '
                           '"point_run_opens": 9, "point_bloom_max_bytes": 1048576, '
                           '"ivf_local_hits": 4}')
        d = stats.metric_deltas(before, after)
        self.assertEqual(d, {"local_serve_hits": 15, "local_serve_misses": 1,
                             "point_run_opens": 4, "point_bloom_max_bytes": 0})

    def test_non_numeric_values_skipped(self):
        self.assertEqual(stats.metric_deltas({"a": 1, "b": "x"}, {"a": 3, "b": "y"}), {"a": 2})

    def test_union_of_job_intervals(self):
        s = 1_000_000_000
        self.assertAlmostEqual(stats.union_s([(0, 2 * s), (1 * s, 3 * s), (5 * s, 6 * s)]), 4.0)
        self.assertEqual(stats.union_s([]), 0.0)


if __name__ == "__main__":
    unittest.main()
