"""Tests for the benchmark's statistics.

Run: python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import copy
import unittest

import stats


class TailRule(unittest.TestCase):
    def test_highest_percentile_with_ten_samples_beyond(self):
        self.assertEqual(stats.tail_percentile(1000), 99.0)
        self.assertEqual(stats.tail_percentile(999), 95.0)
        self.assertEqual(stats.tail_percentile(200), 95.0)
        self.assertEqual(stats.tail_percentile(199), 90.0)
        self.assertEqual(stats.tail_percentile(10000), 99.9)
        self.assertEqual(stats.tail_percentile(20), 50.0)

    def test_too_few_samples_have_no_tail(self):
        self.assertIsNone(stats.tail_percentile(19))

    def test_percentile_interpolates(self):
        xs = [5, 1, 4, 2, 3]
        self.assertEqual(stats.percentile(xs, 50), 3)
        self.assertEqual(stats.percentile(xs, 25), 2)
        self.assertAlmostEqual(stats.percentile(xs, 90), 4.6)
        self.assertEqual(stats.percentile(xs, 100), 5)
        with self.assertRaises(ValueError):
            stats.percentile([], 50)


class FailCounting(unittest.TestCase):
    def reply(self, expect, status, price=None, want=None):
        return {"expect": expect, "status": status, "price": price, "want": want}

    def test_expected_400_is_a_success(self):
        self.assertEqual(stats.count_replies([self.reply(400, 400)]), (1, 0))

    def test_each_kind_of_failure_counts_once(self):
        replies = [
            self.reply(200, 200, 12.34, 12.34),   # ok
            self.reply(400, 400),                 # ok: incomplete body refused
            self.reply(200, 200, 12.34, 12.35),   # wrong price
            self.reply(200, 500),                 # server error
            self.reply(400, 200, 10.0, None),     # incomplete body accepted
            self.reply(200, -1),                  # transport error
        ]
        self.assertEqual(stats.count_replies(replies), (6, 4))

    def test_price_must_be_bit_equal(self):
        a = 0.1 + 0.2
        self.assertEqual(stats.count_replies([self.reply(200, 200, a, 0.3)]), (1, 1))

    def test_fail_ratio(self):
        self.assertEqual(stats.fail_ratio(0, 905), 0.0)
        self.assertEqual(stats.fail_ratio(1, 4), 0.25)
        with self.assertRaises(ValueError):
            stats.fail_ratio(0, 0)


class PairRule(unittest.TestCase):
    parent = [100, 102, 98, 101, 99, 100, 103, 97, 100, 101]

    def test_gain_needs_nine_of_ten_wins_and_a_gap_beyond_the_spread(self):
        change = [p - 10 for p in self.parent]
        verdict, d = stats.pair_verdict(self.parent, change, "lower", 0.1)
        self.assertEqual((verdict, d["wins"]), ("gain", 10))

    def test_eight_wins_is_not_a_gain(self):
        change = [p - 10 for p in self.parent]
        change[0] = change[1] = 200  # two losses
        verdict, d = stats.pair_verdict(self.parent, change, "lower", 0.1)
        self.assertEqual(d["wins"], 8)
        self.assertNotEqual(verdict, "gain")

    def test_ties_count_for_neither(self):
        change = list(self.parent)
        verdict, d = stats.pair_verdict(self.parent, change, "lower", 0.1)
        self.assertEqual((verdict, d["wins"]), ("same", 0))

    def test_small_gap_within_parent_spread_is_not_a_gain(self):
        change = [p - 0.5 for p in self.parent]
        verdict, _ = stats.pair_verdict(self.parent, change, "lower", 0.1)
        self.assertEqual(verdict, "same")

    def test_regression_beyond_the_bound(self):
        change = [p * 1.2 for p in self.parent]
        verdict, _ = stats.pair_verdict(self.parent, change, "lower", 0.1)
        self.assertEqual(verdict, "regression")

    def test_higher_is_better_flips_the_sign(self):
        change = [p + 10 for p in self.parent]
        self.assertEqual(stats.pair_verdict(self.parent, change, "higher", 0.1)[0], "gain")
        self.assertEqual(stats.pair_verdict(self.parent, change, "lower", 0.05)[0], "regression")

    def test_spread_wider_than_bound_is_unresolved(self):
        parent = [50, 150, 80, 120, 100, 60, 140, 90, 110, 100]
        change = [p + (5 if i % 2 else -5) for i, p in enumerate(parent)]
        self.assertEqual(stats.pair_verdict(parent, change, "lower", 0.1)[0], "unresolved")

    def test_pairs_must_match(self):
        with self.assertRaises(ValueError):
            stats.pair_verdict([1, 2, 3], [1, 2], "lower", 0.1)


class RecordSchema(unittest.TestCase):
    record = {
        "schema": 1, "workload": "daily_refresh", "seed": 3, "traced": False,
        "correct": True, "attempted": 20, "failed": 0, "fail_ratio": 0.0,
        "metrics": {"p50_ms": {"value": 404.1, "unit": "ms"}},
        "samples": {}, "provenance": {k: None for k in stats.PROVENANCE_KEYS},
    }

    def test_valid_record_passes(self):
        stats.check_record(self.record)

    def broken(self, path, value):
        rec = copy.deepcopy(self.record)
        target = rec
        for k in path[:-1]:
            target = target[k]
        if value is KeyError:
            del target[path[-1]]
        else:
            target[path[-1]] = value
        with self.assertRaises(ValueError):
            stats.check_record(rec)

    def test_missing_or_mistyped_fields_fail(self):
        self.broken(["seed"], KeyError)
        self.broken(["seed"], True)
        self.broken(["attempted"], "20")
        self.broken(["provenance", "git_sha"], KeyError)
        self.broken(["metrics", "p50_ms"], {"value": "fast", "unit": "ms"})
        self.broken(["metrics", "p50_ms"], {"value": 1.0})
        self.broken(["attempted"], 0)
        self.broken(["failed"], 21)


if __name__ == "__main__":
    unittest.main()
