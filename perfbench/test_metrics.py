"""Unit tests for the benchmark's metric math.

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import unittest

import metrics


def op(ok=True, warm=False, wall=1.0, pass_=0):
    return {"ok": ok, "warm": warm, "wall_s": wall, "pass": pass_,
            "artifact_bytes": -1}


class PercentileRule(unittest.TestCase):
    def test_nearest_rank(self):
        xs = list(range(1, 101))
        self.assertEqual(metrics.percentile(xs, 50), 50)
        self.assertEqual(metrics.percentile(xs, 90), 90)
        self.assertEqual(metrics.percentile([7.0], 90), 7.0)

    def test_tail_needs_ten_samples_beyond(self):
        # 100 distinct samples: exactly 10 lie above p90
        self.assertEqual(metrics.tail_percentile(list(range(1, 101)), 90), 90)
        # 99 samples: p90 is the 90th, only 9 lie above it
        self.assertIsNone(metrics.tail_percentile(list(range(1, 100)), 90))
        self.assertIsNone(metrics.tail_percentile([], 90))

    def test_ties_at_the_percentile_do_not_count_as_beyond(self):
        xs = [1.0] * 95 + [2.0] * 10
        self.assertEqual(metrics.tail_percentile(xs, 90), 1.0)
        self.assertIsNone(metrics.tail_percentile([1.0] * 200, 90))


class JobIntervalUnion(unittest.TestCase):
    def test_overlapping_and_nested_intervals_count_once(self):
        self.assertAlmostEqual(
            metrics.union_length([(0, 2), (1, 3), (1.5, 2.5), (5, 6)]), 4.0)

    def test_touching_intervals_and_empty_ones(self):
        self.assertAlmostEqual(metrics.union_length([(0, 1), (1, 2)]), 2.0)
        self.assertAlmostEqual(metrics.union_length([(3, 3), (4, 2)]), 0.0)
        self.assertEqual(metrics.union_length([]), 0.0)

    def test_driver_gap_clips_jobs_to_the_op(self):
        # op 10..20; jobs cover 8..12 (clipped to 10..12) and 15..17
        self.assertAlmostEqual(
            metrics.driver_gap(10, 20, [(8, 12), (15, 17), (16, 16.5)]), 6.0)
        self.assertAlmostEqual(metrics.driver_gap(0, 5, []), 5.0)
        self.assertAlmostEqual(metrics.driver_gap(0, 5, [(-1, 9)]), 0.0)


class ErrorRate(unittest.TestCase):
    def test_failed_over_attempted(self):
        ops = [op(), op(ok=False), op(), op(ok=False)]
        self.assertAlmostEqual(metrics.error_rate(ops), 0.5)
        self.assertEqual(metrics.error_rate([op()]), 0.0)
        with self.assertRaises(ValueError):
            metrics.error_rate([])

    def test_failed_ops_leave_latency_but_count_as_attempted(self):
        raw = {"setup_s": 2.0, "peak_rss_mb": 100.0,
               "passes": [{"pass": -1, "warm": True, "complete": True},
                          {"pass": 0, "warm": False, "complete": True},
                          {"pass": 1, "warm": False, "complete": False}]}
        ops = [op(wall=50.0, warm=True, pass_=-1), op(wall=1.0),
               op(wall=3.0), op(ok=False, wall=100.0), op(wall=7.0, pass_=1)]
        m = metrics.end_to_end(raw, ops)
        # warm-up ops are neither attempted nor timed
        self.assertAlmostEqual(m["error_rate"][0], 0.25)
        self.assertAlmostEqual(m["op_p50_s"][0], 3.0)
        self.assertAlmostEqual(m["setup_s"][0], 2.0)
        # only the complete measured pass, failed op included
        self.assertAlmostEqual(m["pass_s"][0], 104.0)
        self.assertNotIn("op_p90_s", m)
        self.assertNotIn("artifact_mb", m)


if __name__ == "__main__":
    unittest.main()
