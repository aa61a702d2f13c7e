"""Self-tests of the benchmark's statistics and failure counting.

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import unittest

import run
import stats


class PercentileTest(unittest.TestCase):
    def test_nearest_rank(self):
        xs = [float(v) for v in range(10, 0, -1)]
        self.assertEqual(stats.percentile(xs, 50), 5.0)
        self.assertEqual(stats.percentile(xs, 90), 9.0)
        self.assertEqual(stats.percentile(xs, 100), 10.0)
        self.assertEqual(stats.percentile([7.0], 90), 7.0)

    def test_rejects_empty_and_out_of_range(self):
        with self.assertRaises(ValueError):
            stats.percentile([], 50)
        with self.assertRaises(ValueError):
            stats.percentile([1.0], 0)

    def test_tail_needs_ten_samples_beyond(self):
        self.assertEqual(stats.tail_percentile(100), 90)
        self.assertEqual(stats.tail_percentile(1000), 90)
        self.assertEqual(stats.tail_percentile(99), 89)
        self.assertEqual(stats.tail_percentile(42), 76)
        self.assertEqual(stats.tail_percentile(20), 50)
        self.assertIsNone(stats.tail_percentile(19))
        for n in range(20, 300):
            p = stats.tail_percentile(n)
            self.assertGreaterEqual(stats.beyond(n, p), stats.TAIL_BEYOND)
            if p < 90:
                self.assertLess(stats.beyond(n, p + 1), stats.TAIL_BEYOND)

    def test_latency_summary_states_count_and_percentile(self):
        s = stats.latency_summary([float(v) for v in range(1, 43)])
        self.assertEqual(s, {"n": 42, "p50": 21.0, "tail_pct": 76, "tail": 32.0})
        self.assertIsNone(stats.latency_summary([1.0, 2.0])["tail"])


class EntryLatencyTest(unittest.TestCase):
    def test_geomean_of_entry_medians(self):
        ops = [("a", 100.0), ("b", 1000.0), ("a", 300.0), ("b", 1000.0), ("a", 200.0)]
        self.assertAlmostEqual(stats.entry_latency(ops), (200.0 * 1000.0) ** 0.5)

    def test_geomean_rejects_non_positive(self):
        with self.assertRaises(ValueError):
            stats.geomean([1.0, 0.0])
        with self.assertRaises(ValueError):
            stats.geomean([])


class FailureTest(unittest.TestCase):
    def test_ratio(self):
        self.assertEqual(stats.failure_ratio(10, 0), 0.0)
        self.assertEqual(stats.failure_ratio(8, 2), 0.25)
        with self.assertRaises(ValueError):
            stats.failure_ratio(0, 0)
        with self.assertRaises(ValueError):
            stats.failure_ratio(3, 4)

    def test_wrong_or_thrown_ops_fail_and_give_no_sample(self):
        fp = {"columns": ["a"], "rows": 1, "xor": 5, "sum": 5}
        rec = {"attempted": 4, "samples_ms": [],
               "failures": [{"op": "boom", "error": "java.lang.RuntimeException"}],
               "ops": [{"op": "good", "ms": 10.0, "fp": fp},
                       {"op": "wrong", "ms": 1.0, "fp": dict(fp, rows=2)},
                       {"op": "unknown", "ms": 2.0, "fp": fp}]}
        attempted, failures = run.judge([rec], {"good": fp, "wrong": fp})
        self.assertEqual(attempted, 4)
        self.assertEqual(sorted(f["op"] for f in failures), ["boom", "unknown", "wrong"])
        self.assertEqual(run.samples_ms(rec), [10.0])

    def test_untimed_ops_are_checked_but_not_sampled(self):
        fp = {"columns": ["a"], "rows": 1, "xor": 5, "sum": 5}
        rec = {"attempted": 1, "samples_ms": [3.0], "failures": [],
               "ops": [{"op": "x", "ms": None, "fp": fp}]}
        self.assertEqual(run.judge([rec], {"x": fp}), (1, []))
        self.assertEqual(run.samples_ms(rec), [3.0])


class AgreementTest(unittest.TestCase):
    SPECS = [{"name": "wall_s", "better": "lower", "bound": 0.2},
             {"name": "setup_s", "better": "lower", "bound": 0.25},
             {"name": "rate", "better": "higher", "bound": 0.1}]

    def test_spread_is_iqr_over_median(self):
        self.assertAlmostEqual(stats.spread([1.0, 2.0, 3.0, 4.0, 5.0]), 3.0 / 3.0)
        self.assertEqual(stats.spread([2.0] * 10), 0.0)

    def test_identical_sets_agree(self):
        a = {"wall_s": [10.0, 10.1, 9.9, 10.2], "setup_s": [5.0, 5.1, 4.9, 5.0],
             "rate": [100.0, 101.0, 99.0, 100.5]}
        problems, summary = stats.agreement(a, a, self.SPECS)
        self.assertEqual(problems, [])
        self.assertEqual(summary["wall_s"]["worse_by"], 0.0)

    def test_wide_spread_fails_except_setup(self):
        a = {"wall_s": [5.0, 10.0, 15.0, 20.0], "setup_s": [1.0, 5.0, 9.0, 20.0],
             "rate": [100.0] * 4}
        problems, _ = stats.agreement(a, a, self.SPECS)
        self.assertTrue(any(p.startswith("wall_s: first set spread") for p in problems))
        self.assertFalse(any(p.startswith("setup_s") for p in problems))

    def test_drift_is_direction_aware(self):
        a = {"wall_s": [10.0] * 4, "setup_s": [5.0] * 4, "rate": [100.0] * 4}
        slower = dict(a, wall_s=[12.5] * 4)
        faster = dict(a, wall_s=[7.0] * 4)
        fewer = dict(a, rate=[85.0] * 4)
        self.assertTrue(any("wall_s: second median worse" in p for p in stats.agreement(a, slower, self.SPECS)[0]))
        self.assertEqual(stats.agreement(a, faster, self.SPECS)[0], [])
        self.assertTrue(any("rate: second median worse" in p for p in stats.agreement(a, fewer, self.SPECS)[0]))

    def test_setup_drift_still_counts(self):
        a = {"wall_s": [10.0] * 4, "setup_s": [5.0] * 4, "rate": [100.0] * 4}
        problems, _ = stats.agreement(a, dict(a, setup_s=[7.0] * 4), self.SPECS)
        self.assertTrue(any(p.startswith("setup_s: second median worse") for p in problems))


if __name__ == "__main__":
    unittest.main()
