"""The paired A/B verdict on synthetic runs.

    python3 -m unittest discover -s perfbench/tests
"""

import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
from ab import failures, verdict  # noqa: E402

PARENT = [10.0, 10.2, 9.9, 10.1, 10.0, 9.8, 10.3, 10.1, 9.9, 10.0]


class VerdictTest(unittest.TestCase):
    def test_clear_gain_is_improved(self):
        change = [x * 0.8 for x in PARENT]
        self.assertEqual(verdict(PARENT, change, "lower", 0.1), ("improved", 10))

    def test_higher_is_better_metrics_flip_the_sign(self):
        change = [x * 1.2 for x in PARENT]
        self.assertEqual(verdict(PARENT, change, "higher", 0.1)[0], "improved")
        self.assertEqual(verdict(PARENT, change, "lower", 0.1)[0], "regressed")

    def test_eight_wins_in_ten_is_no_claim(self):
        change = [x * 0.8 for x in PARENT[:8]] + [x * 1.01 for x in PARENT[8:]]
        v, wins = verdict(PARENT, change, "lower", 0.5)
        self.assertEqual(wins, 8)
        self.assertEqual(v, "within bound")

    def test_gain_inside_the_parent_spread_is_no_claim(self):
        # wins every pair, by less than the parent's interquartile range
        change = [x - 0.05 for x in PARENT]
        self.assertEqual(verdict(PARENT, change, "lower", 0.1)[0], "within bound")

    def test_ties_count_for_neither_side(self):
        self.assertEqual(verdict(PARENT, list(PARENT), "lower", 0.1), ("within bound", 0))

    def test_spread_wider_than_bound_is_unresolved(self):
        noisy = [5.0, 15.0, 8.0, 12.0, 6.0, 14.0, 7.0, 13.0, 9.0, 11.0]
        change = [x * 1.02 for x in noisy]
        self.assertEqual(verdict(noisy, change, "lower", 0.1)[0], "unresolved")

    def test_wide_spread_still_resolves_when_every_change_run_is_better(self):
        noisy = [20.0, 24.0, 21.0, 23.0, 20.5, 23.5, 21.5, 22.5, 22.0, 22.0]
        change = [x - 10 for x in noisy]
        self.assertEqual(verdict(noisy, change, "lower", 0.05)[0], "improved")

    def test_slowdown_beyond_bound_is_regressed(self):
        change = [x * 1.3 for x in PARENT]
        self.assertEqual(verdict(PARENT, change, "lower", 0.1)[0], "regressed")

    def test_slowdown_within_bound_is_within_bound(self):
        change = [x * 1.05 for x in PARENT]
        self.assertEqual(verdict(PARENT, change, "lower", 0.1)[0], "within bound")

    def test_gain_with_more_failures_than_the_parent_is_failed(self):
        # a change that makes an operation throw drops its time: faster, but failed
        change = [x * 0.8 for x in PARENT]
        self.assertEqual(verdict(PARENT, change, "lower", 0.1, 0, 1), ("failed", 10))
        self.assertEqual(verdict(PARENT, change, "lower", 0.1, 2, 2)[0], "improved")

    def test_failures_count_failed_operations_and_incorrect_runs(self):
        runs = [{"failed": 0, "correct": True}, {"failed": 2, "correct": False},
                {"failed": 0, "correct": False}]
        self.assertEqual(failures(runs), 4)


if __name__ == "__main__":
    unittest.main()
