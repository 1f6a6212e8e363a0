"""Unit tests of the benchmark's statistics: python3 -m unittest discover perfbench"""
import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import ledger  # noqa: E402


class PercentileRule(unittest.TestCase):
    def test_p90_needs_ten_samples_beyond(self):
        self.assertIsNone(ledger.tail_percentile(list(range(99)), 0.9))
        self.assertEqual(ledger.tail_percentile(list(range(1, 101)), 0.9), 90)

    def test_p90_rank_is_nearest_rank(self):
        values = [float(v) for v in range(200, 0, -1)]
        self.assertEqual(ledger.tail_percentile(values, 0.9), 180.0)

    def test_highest_percentile_leaves_ten_beyond(self):
        p, v = ledger.highest_percentile(list(range(1, 41)))
        self.assertEqual((p, v), (0.75, 30))
        self.assertIsNone(ledger.highest_percentile(list(range(10))))


class SelfTime(unittest.TestCase):
    def span(self, i, parent, start, end):
        return {"id": i, "parent": parent, "start": start, "end": end}

    def test_children_are_subtracted_once(self):
        spans = [self.span("cell", -1, 0, 100),
                 self.span("build", "cell", 0, 30),
                 self.span("plan", "cell", 30, 40),
                 self.span("exec", "cell", 45, 100),
                 self.span("job1", "exec", 50, 70),
                 self.span("job2", "exec", 60, 80)]
        got = ledger.self_times(spans)
        self.assertEqual(got["cell"], 5)
        self.assertEqual(got["exec"], 55 - 30)
        self.assertEqual(got["job1"], 20)

    def test_child_outside_parent_is_clipped(self):
        spans = [self.span("p", -1, 10, 20), self.span("c", "p", 0, 15)]
        self.assertEqual(ledger.self_times(spans)["p"], 5)

    def test_self_times_sum_to_root(self):
        spans = [self.span("cell", -1, 0, 100),
                 self.span("build", "cell", 0, 30),
                 self.span("plan", "cell", 30, 40),
                 self.span("exec", "cell", 45, 100)]
        self.assertEqual(sum(ledger.self_times(spans).values()), 100)


class SeedPermutation(unittest.TestCase):
    def test_same_seed_same_orders(self):
        self.assertEqual(ledger.pass_orders(7, 19, 8), ledger.pass_orders(7, 19, 8))

    def test_each_pass_is_a_permutation_and_passes_differ(self):
        orders = ledger.pass_orders(7, 19, 8)
        for o in orders:
            self.assertEqual(sorted(o), list(range(19)))
        self.assertGreater(len({tuple(o) for o in orders}), 1)

    def test_seeds_differ(self):
        self.assertNotEqual(ledger.pass_orders(1, 19, 4), ledger.pass_orders(2, 19, 4))


if __name__ == "__main__":
    unittest.main()
