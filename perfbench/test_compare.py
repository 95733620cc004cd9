"""Tests of the comparison rules in compare.py.

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import statistics
import unittest

import compare


class SpreadTest(unittest.TestCase):
    def test_quartiles_match_statistics_quantiles(self):
        vals = [3.0, 1.0, 4.0, 1.5, 5.0, 9.0, 2.0, 6.0, 5.5, 3.5]
        q1, med, q3 = compare.quartiles(vals)
        self.assertEqual([q1, med, q3], statistics.quantiles(vals, n=4))
        self.assertAlmostEqual(compare.spread(vals), (q3 - q1) / med)


class VerdictTest(unittest.TestCase):
    parent = [1.00, 1.01, 0.99, 1.02, 0.98, 1.00, 1.01, 0.99, 1.00, 1.02]

    def paired(self, change):
        return list(zip(self.parent, change))

    def test_clear_gain_is_better(self):
        change = [v * 0.8 for v in self.parent]
        v, wins = compare.verdict(self.parent, change, self.paired(change), 0.1, "lower")
        self.assertEqual((v, wins), ("better", 10))

    def test_gain_within_noise_is_same(self):
        change = [v - 0.001 for v in self.parent]
        change[0] = self.parent[0] + 0.01  # one pair lost: 9/10 still wins
        v, _ = compare.verdict(self.parent, change, self.paired(change), 0.1, "lower")
        self.assertEqual(v, "same")  # the medians differ by less than the parent's spread

    def test_regression_beyond_bound_is_worse(self):
        change = [v * 1.2 for v in self.parent]
        v, wins = compare.verdict(self.parent, change, self.paired(change), 0.1, "lower")
        self.assertEqual((v, wins), ("worse", 0))

    def test_higher_is_better_direction(self):
        change = [v * 1.3 for v in self.parent]
        v, _ = compare.verdict(self.parent, change, self.paired(change), 0.1, "higher")
        self.assertEqual(v, "better")

    def test_wide_parent_spread_is_unresolved(self):
        noisy = [1.0, 1.5, 0.7, 1.3, 0.8, 1.6, 0.9, 1.2, 0.6, 1.4]
        change = [v * 1.05 for v in noisy]
        v, _ = compare.verdict(noisy, change, list(zip(noisy, change)), 0.1, "lower")
        self.assertEqual(v, "unresolved")

    def test_wide_spread_but_every_change_run_better(self):
        noisy = [1.0, 1.5, 1.1, 1.3, 1.2, 1.6, 1.05, 1.25, 1.15, 1.4]
        change = [0.5] * 10
        v, _ = compare.verdict(noisy, change, list(zip(noisy, change)), 0.1, "lower")
        self.assertEqual(v, "better")

    def test_ties_count_for_neither_side(self):
        change = list(self.parent)
        _, wins = compare.verdict(self.parent, change, self.paired(change), 0.1, "lower")
        self.assertEqual(wins, 0)


class PairingTest(unittest.TestCase):
    def test_pairs_by_seed_when_both_sides_ran_it(self):
        p = [{"seed": 1}, {"seed": 2}]
        c = [{"seed": 2}, {"seed": 1}]
        self.assertEqual([(a["seed"], b["seed"]) for a, b in compare.pairs(p, c)], [(1, 1), (2, 2)])

    def test_pairs_in_run_order_otherwise(self):
        p = [{"seed": 1}, {"seed": 2}]
        c = [{"seed": 3}, {"seed": 4}]
        self.assertEqual([(a["seed"], b["seed"]) for a, b in compare.pairs(p, c)], [(1, 3), (2, 4)])


if __name__ == "__main__":
    unittest.main()
