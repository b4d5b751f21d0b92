"""Self-tests of the benchmark's own arithmetic.

Run: python3 -m unittest discover -s perfbench/tests
(the digest test compiles the harness on first use).
"""
import os
import subprocess
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

import stats  # noqa: E402


class TailRule(unittest.TestCase):
    def test_leaves_ten_beyond(self):
        vals = list(range(1, 101))  # 1..100
        v, pct, n = stats.tail(vals)
        self.assertEqual((v, pct, n), (90, 90.0, 100))
        self.assertEqual(sum(1 for x in vals if x > v), 10)

    def test_is_the_highest_such_percentile(self):
        vals = [float(i) for i in range(37)]
        v, pct, _ = stats.tail(vals)
        self.assertEqual(sum(1 for x in vals if x > v), 10)
        # one rank higher would leave only nine beyond
        self.assertEqual(sum(1 for x in vals if x > sorted(vals)[27]), 9)
        self.assertAlmostEqual(pct, 100.0 * 27 / 37)

    def test_order_does_not_matter(self):
        vals = [5.0, 1.0, 9.0, 3.0, 7.0, 2.0, 8.0, 4.0, 6.0, 0.0, 11.0, 10.0]
        self.assertEqual(stats.tail(vals), stats.tail(sorted(vals)))
        self.assertEqual(stats.tail(vals)[0], 1.0)

    def test_too_few_samples_gives_the_maximum(self):
        self.assertEqual(stats.tail([3.0, 1.0, 2.0]), (3.0, 100.0, 3))
        self.assertEqual(stats.tail([]), (0.0, 0.0, 0))


class SumOfMedians(unittest.TestCase):
    def test_sums_each_querys_median(self):
        samples = {"a": [1.0, 100.0, 2.0], "b": [10.0, 30.0, 20.0, 1000.0],
                   "c": [7.0]}
        self.assertEqual(stats.sum_of_medians(samples), 2.0 + 25.0 + 7.0)

    def test_one_spike_per_query_cannot_move_it(self):
        calm = {"a": [1.0, 1.1, 0.9], "b": [2.0, 2.1, 1.9]}
        spiked = {"a": [1.0, 50.0, 0.9], "b": [2.0, 2.1, 80.0]}
        self.assertAlmostEqual(stats.sum_of_medians(calm), 3.0)
        self.assertAlmostEqual(stats.sum_of_medians(spiked), 3.1)

    def test_empty_queries_are_skipped(self):
        self.assertEqual(stats.sum_of_medians({"a": [], "b": [4.0]}), 4.0)


class GeomeanOfMedians(unittest.TestCase):
    def test_geometric_mean_of_each_querys_median(self):
        samples = {"a": [1.0, 100.0, 4.0], "b": [16.0, 16.0, 3.0]}
        self.assertAlmostEqual(stats.geomean_of_medians(samples), 8.0)

    def test_same_relative_change_moves_it_the_same(self):
        base = {"short": [10.0] * 3, "long": [1000.0] * 3}
        short = {"short": [9.0] * 3, "long": [1000.0] * 3}
        long_ = {"short": [10.0] * 3, "long": [900.0] * 3}
        self.assertAlmostEqual(stats.geomean_of_medians(short),
                               stats.geomean_of_medians(long_))
        self.assertLess(stats.geomean_of_medians(short),
                        stats.geomean_of_medians(base))


class IdleCores(unittest.TestCase):
    def test_core_time_minus_task_time(self):
        # 100 ms on 4 cores, 250 ms of task run time: 150 core-ms idle
        self.assertEqual(stats.idle_core_ms(100.0, 4, 250.0), 150.0)

    def test_fully_busy_is_zero(self):
        self.assertEqual(stats.idle_core_ms(50.0, 4, 200.0), 0.0)


class SpanSelfTime(unittest.TestCase):
    @staticmethod
    def span(i, parent, start, end):
        return {"id": i, "parent": parent, "start": start, "end": end,
                "name": f"s{i}"}

    def test_sequential_children(self):
        spans = [self.span(0, -1, 0, 100), self.span(1, 0, 10, 30),
                 self.span(2, 0, 50, 90)]
        self.assertEqual(stats.self_times(spans), {0: 40, 1: 20, 2: 40})

    def test_overlapping_children_count_once(self):
        spans = [self.span(0, -1, 0, 100), self.span(1, 0, 10, 60),
                 self.span(2, 0, 40, 80), self.span(3, 0, 45, 50)]
        # children cover [10, 80): 70 of the parent's 100
        self.assertEqual(stats.self_times(spans)[0], 30)

    def test_children_are_clipped_to_the_parent(self):
        spans = [self.span(0, -1, 100, 200), self.span(1, 0, 50, 150),
                 self.span(2, 0, 190, 260)]
        self.assertEqual(stats.self_times(spans)[0], 40)

    def test_grandchildren_only_reduce_their_parent(self):
        spans = [self.span(0, -1, 0, 100), self.span(1, 0, 0, 50),
                 self.span(2, 1, 10, 40)]
        self.assertEqual(stats.self_times(spans), {0: 50, 1: 20, 2: 30})


class Spread(unittest.TestCase):
    def test_quartile_distance_over_median(self):
        vals = [10.0, 10.0, 10.0, 10.0]
        self.assertEqual(stats.spread(vals), 0.0)
        vals = [9.0, 10.0, 10.0, 11.0, 100.0]
        q1, _, q3 = 9.5, None, 55.5  # statistics.quantiles 'exclusive'
        self.assertAlmostEqual(stats.spread(vals), (q3 - q1) / 10.0)


class DigestOrderInsensitivity(unittest.TestCase):
    def test_digest_self_test_passes(self):
        import run
        classes = run.build()
        cp = classes + os.pathsep + os.path.join(run.SPARK_JARS, "*")
        r = subprocess.run(["java", "-cp", cp, "perfbench.DigestSelfTest"],
                           stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                           text=True, timeout=300)
        self.assertEqual(r.returncode, 0, r.stdout)
        self.assertNotIn("FAIL", r.stdout)


if __name__ == "__main__":
    unittest.main()
