"""Tests for the interval union behind `scheduler.job_busy_s` and
`scheduler.driver_gap_s`, and for span self time.

Run: python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import unittest

from layers import SpanTree, driver_gap, union_length


class UnionTest(unittest.TestCase):
    def test_disjoint_intervals_add_up(self):
        self.assertAlmostEqual(union_length([(0, 1), (2, 4)]), 3.0)

    def test_overlapping_intervals_count_once(self):
        # the sum would be 7; the union is [0, 5]
        self.assertAlmostEqual(union_length([(0, 3), (1, 5)]), 5.0)

    def test_nested_intervals_count_once(self):
        self.assertAlmostEqual(union_length([(0, 10), (2, 3), (4, 9)]), 10.0)

    def test_touching_intervals_merge(self):
        self.assertAlmostEqual(union_length([(0, 1), (1, 2)]), 2.0)

    def test_clipping_to_the_wall(self):
        self.assertAlmostEqual(union_length([(-2, 1), (9, 12)], 0, 10), 2.0)

    def test_empty_and_degenerate(self):
        self.assertEqual(union_length([]), 0.0)
        self.assertEqual(union_length([(3, 3), (5, 4)]), 0.0)


class DriverGapTest(unittest.TestCase):
    def test_gap_with_concurrent_jobs_is_not_negative(self):
        # four jobs running at once over [1, 9] of a 10 s wall: summing
        # them gives 32 s of "job time" and a gap of -22 s
        jobs = [(1, 9)] * 4
        self.assertAlmostEqual(driver_gap(0, 10, jobs), 2.0)

    def test_gap_with_nested_and_overlapping_jobs(self):
        jobs = [(1, 4), (2, 3), (3.5, 6), (8, 9)]
        self.assertAlmostEqual(driver_gap(0, 10, jobs), 10 - 6.0)

    def test_gap_without_jobs_is_the_wall(self):
        self.assertAlmostEqual(driver_gap(5, 7, []), 2.0)


class SpanTreeTest(unittest.TestCase):
    def tree(self):
        t = SpanTree()
        root = t.add("warm1", "warm1", 0, 10)
        t.add("warm1/q", "q", 1, 9, "warm1")
        t.add("warm1/q/build", "build", 1, 4, "warm1/q")
        t.add("warm1/q/exec", "exec", 4, 9, "warm1/q")
        return t, root

    def test_self_time_subtracts_children(self):
        t, root = self.tree()
        self.assertAlmostEqual(root.self_time, 2.0)
        self.assertAlmostEqual(t.spans["warm1/q"].self_time, 0.0)

    def test_job_parented_by_tag(self):
        t, root = self.tree()
        job = t.attach_job(7, 5, 6, "warm1/q/exec", root)
        self.assertEqual(job.parent.id, "warm1/q/exec")
        self.assertAlmostEqual(t.spans["warm1/q/exec"].self_time, 4.0)

    def test_untagged_job_parented_by_interval(self):
        t, root = self.tree()
        job = t.attach_job(8, 2, 3, None, root)
        self.assertEqual(job.parent.id, "warm1/q/build")

    def test_overlapping_jobs_do_not_make_self_time_negative(self):
        t, root = self.tree()
        for jid in range(3):
            t.attach_job(jid, 4.5, 8.5, "warm1/q/exec", root)
        self.assertAlmostEqual(t.spans["warm1/q/exec"].self_time, 1.0)


if __name__ == "__main__":
    unittest.main()
