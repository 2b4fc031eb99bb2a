"""Tests of the benchmark's own arithmetic.

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import unittest

import metrics


class TailPercentile(unittest.TestCase):
    def test_too_few_samples(self):
        self.assertIsNone(metrics.tail_percentile(list(range(10))))

    def test_two_hundred_samples_allow_p95(self):
        xs = list(range(1, 201))
        p, v = metrics.tail_percentile(xs)
        self.assertEqual(p, 95)
        self.assertEqual(v, 190)
        self.assertEqual(sum(1 for x in xs if x > v), 10)

    def test_rule_keeps_ten_beyond(self):
        for n in range(11, 400):
            xs = list(range(n))
            p, v = metrics.tail_percentile(xs)
            self.assertGreaterEqual(sum(1 for x in xs if x > v), 10, n)
            # one percentile higher would leave fewer than ten beyond
            if p < 99:
                rank = -(-(p + 1) * n // 100)
                self.assertLess(n - rank, 10, n)

    def test_order_free(self):
        self.assertEqual(metrics.tail_percentile([5, 1, 4] * 10),
                         metrics.tail_percentile(sorted([5, 1, 4] * 10)))


class SelfTime(unittest.TestCase):
    def test_no_children(self):
        self.assertEqual(metrics.self_time((0, 10), []), 10)

    def test_disjoint_children(self):
        self.assertEqual(metrics.self_time((0, 10), [(1, 3), (5, 6)]), 7)

    def test_nested_children_count_once(self):
        # a child's own child lies inside it; the union is what it covers
        self.assertEqual(metrics.self_time((0, 10), [(2, 8), (3, 4)]), 4)

    def test_overlapping_children(self):
        self.assertEqual(metrics.self_time((0, 10), [(1, 5), (4, 7)]), 4)

    def test_children_clipped_to_parent(self):
        self.assertEqual(metrics.self_time((0, 10), [(-5, 2), (9, 20)]), 7)

    def test_covered_union(self):
        self.assertEqual(metrics.covered([(0, 1), (1, 2), (5, 6)]), 3)


class Amplification(unittest.TestCase):
    def test_write_amp(self):
        self.assertAlmostEqual(metrics.write_amp(300, 100, 200), 2.0)

    def test_space_amp(self):
        self.assertAlmostEqual(metrics.space_amp(150, 100), 1.5)


class OpGroups(unittest.TestCase):
    def test_summed_median(self):
        ops = [{"kind": "a", "ms": 1.0}, {"kind": "a", "ms": 3.0}, {"kind": "a", "ms": 100.0},
               {"kind": "b", "ms": 10.0}, {"kind": "c", "ms": 7.0}]
        self.assertAlmostEqual(metrics.summed_median_ms(ops, ("a", "b")), 13.0)

    def test_groups_split_every_kind_once(self):
        for w in metrics.HEAVY_OPS:
            self.assertFalse(set(metrics.HEAVY_OPS[w]) & set(metrics.LIGHT_OPS[w]), w)


if __name__ == "__main__":
    unittest.main()
