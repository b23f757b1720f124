"""Unit tests of the benchmark's own arithmetic on synthetic inputs.

Run: python3 perfbench/test_stats.py
"""
import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import stats  # noqa: E402


class TailTest(unittest.TestCase):
    def test_hundred_samples_is_p90(self):
        p, v, beyond, n = stats.tail(range(1, 101))
        self.assertEqual((p, v, beyond, n), (90.0, 90, 10, 100))

    def test_small_sample_gives_low_percentile(self):
        p, v, beyond, n = stats.tail(range(20))
        self.assertEqual((p, v, beyond), (50.0, 9, 10))

    def test_ties_move_the_cut_down(self):
        # eleven samples tie at the top: only values below 5 leave ten beyond
        xs = [1, 2, 3, 4] + [5] * 11
        p, v, beyond, n = stats.tail(xs)
        self.assertEqual((v, beyond), (4, 11))
        self.assertAlmostEqual(p, 100 * 4 / 15)

    def test_too_few_samples(self):
        self.assertIsNone(stats.tail(range(10)))
        self.assertIsNotNone(stats.tail(range(11)))


class IntervalTest(unittest.TestCase):
    def test_union_merges_overlaps_and_touching(self):
        self.assertEqual(stats.union([(5, 7), (0, 2), (1, 3), (3, 4)]), [(0, 4), (5, 7)])

    def test_idle_counts_gaps_and_clips_tasks(self):
        # op [0,10]; tasks cover [-1,2] (clipped to [0,2]), [4,6], [5,7]
        self.assertEqual(stats.idle(0, 10, [(-1, 2), (4, 6), (5, 7)]), 5)

    def test_idle_without_tasks_is_whole_op(self):
        self.assertEqual(stats.idle(2, 5, []), 3)

    def test_busy_cores_is_mean_concurrency_while_busy(self):
        # two tasks in parallel for 2 s, then one alone for 2 s: 6 task-s over 4 s
        self.assertEqual(stats.busy_cores([(0, 2), (0, 4)]), 1.5)
        self.assertEqual(stats.busy_cores([]), 0.0)


class SelfTimeTest(unittest.TestCase):
    def test_self_time_subtracts_covered_children(self):
        spans = [
            {"id": 1, "parent": 0, "start": 0.0, "end": 10.0},
            {"id": 2, "parent": 1, "start": 1.0, "end": 4.0},
            {"id": 3, "parent": 1, "start": 3.0, "end": 6.0},
            {"id": 4, "parent": 2, "start": 2.0, "end": 3.0},
        ]
        st = stats.self_times(spans)
        self.assertEqual(st, {1: 5.0, 2: 2.0, 3: 3.0, 4: 1.0})
        self.assertEqual(sum(st.values()), 11.0)  # overlap of 2 and 3 counted twice

    def test_nested_self_times_add_up_to_root(self):
        spans = [
            {"id": 1, "parent": 0, "start": 0.0, "end": 8.0},
            {"id": 2, "parent": 1, "start": 0.0, "end": 3.0},
            {"id": 3, "parent": 1, "start": 3.0, "end": 7.5},
        ]
        self.assertAlmostEqual(sum(stats.self_times(spans).values()), 8.0)


class FailRateTest(unittest.TestCase):
    def test_rate_and_base(self):
        self.assertEqual(stats.fail_rate(3, 120), (0.025, "3/120"))
        self.assertEqual(stats.fail_rate(0, 7), (0.0, "0/7"))

    def test_needs_attempts(self):
        with self.assertRaises(ValueError):
            stats.fail_rate(0, 0)

    def test_failures_count_per_pass_and_name_the_op(self):
        def op(name, check, error=None):
            return {"name": name, "check": check, "error": error}
        passes = [
            {"pass": 0, "ops": [op("a", "1:x"), op("b", "2:y")]},
            {"pass": 1, "ops": [op("a", "1:x"), op("b", "2:z")]},  # wrong only when warm
            {"pass": 2, "ops": [op("a", "ERROR boom", "boom"), op("b", "2:y")]},
        ]
        fails, attempted = stats.failures(passes, {"a": "1:x", "b": "2:y"})
        self.assertEqual(attempted, 6)
        self.assertEqual(fails, [(1, "b", "output '2:z'"), (2, "a", "boom")])
        self.assertEqual(stats.fail_rate(len(fails), attempted)[1], "2/6")


if __name__ == "__main__":
    unittest.main()
