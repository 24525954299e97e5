"""Tests of the benchmark's pure logic. Run from the repository root:

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import math
import unittest

import stats


def op(intended, start, end, ok=True):
    return {"phase": "open", "cls": "c", "intended": intended, "start": start,
            "end": end, "ok": ok}


class TailRule(unittest.TestCase):

    def test_highest_percentile_with_ten_beyond(self):
        value, pct, beyond = stats.tail([float(i) for i in range(1, 101)])
        self.assertEqual(value, 90.0)
        self.assertEqual(pct, 90.0)
        self.assertEqual(beyond, 10)

    def test_percentile_follows_the_sample_count(self):
        value, pct, beyond = stats.tail([float(i) for i in range(40)])
        self.assertEqual((value, pct, beyond), (29.0, 75.0, 10))

    def test_needs_more_than_ten_samples(self):
        with self.assertRaises(ValueError):
            stats.tail([1.0] * 10)
        self.assertEqual(stats.tail([float(i) for i in range(11)])[2], 10)

    def test_ties_never_leave_fewer_than_ten_beyond(self):
        xs = [1.0] * 20 + [2.0] * 5 + [3.0] * 8
        value, pct, beyond = stats.tail(xs)
        self.assertEqual(value, 1.0)
        self.assertEqual(beyond, 13)
        self.assertTrue(sum(1 for x in xs if x > value) >= 10)
        self.assertAlmostEqual(pct, 100.0 * 20 / 33)

    def test_all_equal_has_no_tail(self):
        with self.assertRaises(ValueError):
            stats.tail([1.0] * 30)


class OpenLoopAccounting(unittest.TestCase):

    def test_latency_runs_from_the_intended_send_time(self):
        # due at 1.0, sent late at 1.5, answered at 1.7: 0.7 s, not 0.2 s
        self.assertAlmostEqual(stats.latency(op(1.0, 1.5, 1.7)), 0.7)

    def test_a_failure_counts_as_missing_the_limit(self):
        self.assertEqual(stats.latency(op(0.0, 0.0, 0.1, ok=False)), stats.LIMIT_S)
        self.assertEqual(stats.latency(op(0.0, 0.0, 3.0, ok=False)), 3.0)
        self.assertEqual(stats.latency(op(0.0, 0.0, 0.1)), 0.1)

    def test_generator_lag(self):
        lag = stats.generator_lag([op(0.0, 0.0, 0.1), op(0.5, 0.8, 0.9)])
        self.assertEqual(lag[0], 0.0)
        self.assertAlmostEqual(lag[1], 0.3)

    def test_backlog_counts_due_but_unsent_requests(self):
        ops = [op(0.0, 0.0, 1.0), op(0.1, 0.5, 1.0), op(0.2, 0.6, 1.0),
               op(1.0, 1.0, 1.1)]
        # at 0.2 the requests due at 0.1 and 0.2 both wait to be sent
        self.assertEqual(stats.backlog_max(ops), 2)
        self.assertEqual(stats.backlog_max([op(0.0, 0.0, 0.1)]), 0)

    def test_closed_rate_counts_completions_to_the_last_one(self):
        ops = [op(1.0, 1.0, 1.5), op(1.0, 1.0, 2.0), op(1.5, 1.5, 3.0, ok=False)]
        self.assertAlmostEqual(stats.closed_rate(ops, 1.0), 2 / 1.0)
        self.assertEqual(stats.closed_rate([], 0.0), 0.0)

    def test_nearest_rank(self):
        xs = [float(i) for i in range(1, 101)]
        self.assertEqual(stats.nearest_rank(xs, 0.99), 99.0)
        self.assertEqual(stats.nearest_rank([5.0], 0.99), 5.0)


class MetricLine(unittest.TestCase):

    def test_values_carry_their_units(self):
        line = stats.metric_line({"p50_s": 0.25, "work_per_s": 4}, {"p50_s": "s", "work_per_s": "1/s"})
        self.assertEqual(line, {"p50_s": {"value": 0.25, "unit": "s"},
                                "work_per_s": {"value": 4.0, "unit": "1/s"}})

    def test_every_value_is_finite(self):
        for bad in (math.nan, math.inf, -math.inf):
            with self.assertRaises(ValueError):
                stats.metric_line({"p50_s": bad}, {"p50_s": "s"})

    def test_every_unit_is_present(self):
        with self.assertRaises(ValueError):
            stats.metric_line({"p50_s": 1.0}, {"p50_s": ""})

    def test_every_metric_is_measured(self):
        with self.assertRaises(ValueError):
            stats.metric_line({}, {"p50_s": "s"})


if __name__ == "__main__":
    unittest.main()
