"""Tests of the benchmark's statistics and output checks.

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import statistics
import unittest

import stats


class MedianAndQuartiles(unittest.TestCase):
    def test_median_odd_and_even(self):
        self.assertEqual(stats.median([3, 1, 2]), 2)
        self.assertEqual(stats.median([4, 1, 3, 2]), 2.5)

    def test_quartiles_match_statistics_quantiles(self):
        xs = [5.0, 1.0, 9.0, 3.0, 7.0, 2.0, 8.0, 4.0, 6.0, 10.0]
        q1, q2, q3 = stats.quartiles(xs)
        self.assertEqual((q1, q2, q3), tuple(statistics.quantiles(xs, n=4)))
        self.assertEqual(q2, 5.5)

    def test_iqr_share(self):
        xs = [9.0, 10.0, 10.0, 10.0, 11.0]
        q1, q2, q3 = statistics.quantiles(xs, n=4)
        self.assertAlmostEqual(stats.iqr_share(xs), (q3 - q1) / q2)

    def test_single_sample_has_no_spread(self):
        self.assertEqual(stats.quartiles([2.0]), (2.0, 2.0, 2.0))


class Percentile(unittest.TestCase):
    def test_linear_interpolation(self):
        xs = [1.0, 2.0, 3.0, 4.0, 5.0]
        self.assertEqual(stats.percentile(xs, 50), 3.0)
        self.assertEqual(stats.percentile(xs, 75), 4.0)
        self.assertAlmostEqual(stats.percentile(xs, 90), 4.6)
        self.assertEqual(stats.percentile(xs, 0), 1.0)
        self.assertEqual(stats.percentile(xs, 100), 5.0)

    def test_order_does_not_matter(self):
        self.assertEqual(stats.percentile([5, 1, 4, 2, 3], 75),
                         stats.percentile([1, 2, 3, 4, 5], 75))

    def test_empty_is_an_error(self):
        with self.assertRaises(ValueError):
            stats.percentile([], 50)


class TailPercentile(unittest.TestCase):
    """The highest percentile with at least ten samples beyond it."""

    def test_a_99_query_pass_gives_p90(self):
        self.assertEqual(stats.tail_percentile(99), 90)

    def test_a_thousand_samples_give_p99(self):
        self.assertEqual(stats.tail_percentile(1000), 99)

    def test_two_hundred_samples_give_p95(self):
        self.assertEqual(stats.tail_percentile(200), 95)

    def test_three_passes_of_fourteen_give_p75(self):
        self.assertEqual(stats.tail_percentile(42), 75)
        self.assertEqual(stats.tail_percentile(48), 75)

    def test_too_few_samples(self):
        self.assertEqual(stats.tail_percentile(20), 50)
        self.assertIsNone(stats.tail_percentile(10))
        self.assertIsNone(stats.tail_percentile(0))


class Slope(unittest.TestCase):
    def test_exact_line(self):
        b, se = stats.slope([0.0, 0.1, 0.2, 0.3], [70.0, 77.0, 84.0, 91.0])
        self.assertAlmostEqual(b, 70.0)
        self.assertAlmostEqual(se, 0.0)

    def test_flat_with_noise(self):
        b, se = stats.slope([0.0, 0.1, 0.2, 0.3], [70.0, 71.0, 70.0, 71.0])
        self.assertAlmostEqual(b, 2.0)
        self.assertGreater(se, 0.0)

    def test_undefined(self):
        self.assertIsNone(stats.slope([0.1, 0.2], [1.0, 2.0]))
        self.assertIsNone(stats.slope([0.1, 0.1, 0.1], [1.0, 2.0, 3.0]))


class GoldenChecks(unittest.TestCase):
    GOLD = {"curate": {"rows": 10, "hash": "ab-1"},
            "dedup": {"rows": 3, "hash": "cd-2"}}

    def test_match(self):
        self.assertEqual(stats.golden_mismatches(dict(self.GOLD), self.GOLD), [])

    def test_row_count_mismatch(self):
        out = dict(self.GOLD, curate={"rows": 11, "hash": "ab-1"})
        self.assertEqual(stats.golden_mismatches(out, self.GOLD), ["curate"])

    def test_hash_mismatch(self):
        out = dict(self.GOLD, dedup={"rows": 3, "hash": "cd-3"})
        self.assertEqual(stats.golden_mismatches(out, self.GOLD), ["dedup"])

    def test_missing_and_extra_outputs_mismatch(self):
        out = {"curate": self.GOLD["curate"], "probe": {"rows": 1, "hash": "x"}}
        self.assertEqual(stats.golden_mismatches(out, self.GOLD), ["dedup", "probe"])


if __name__ == "__main__":
    unittest.main()
