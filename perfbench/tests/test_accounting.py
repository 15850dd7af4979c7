"""Unit tests for the benchmark's accounting rules.

    python3 -m unittest discover -s perfbench/tests
"""
import os
import random
import sys
import unittest

sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), ".."))
import accounting as acc  # noqa: E402


class UnionLength(unittest.TestCase):
    def test_overlapping_intervals_count_once(self):
        # a wave job and a compactor job that overlap for 3 of their 9 s
        self.assertEqual(acc.union_length([(0, 5), (2, 9)]), 9)

    def test_nested_and_disjoint(self):
        self.assertEqual(acc.union_length([(0, 10), (2, 3), (12, 14)]), 12)

    def test_clipped_to_window(self):
        self.assertEqual(acc.union_length([(-5, 3), (8, 20)], lo=0, hi=10), 5)

    def test_empty(self):
        self.assertEqual(acc.union_length([]), 0)


class Uncovered(unittest.TestCase):
    def test_overlapping_jobs_never_drive_it_negative(self):
        # three jobs overlap each other and spill past the wave's ends; a
        # plain sum of their walls (6 + 8 + 7 = 21) exceeds the 10 s wave
        jobs = [(-2, 4), (1, 9), (5, 12)]
        self.assertEqual(acc.uncovered(0, 10, jobs), 0)

    def test_gaps_are_serial_time(self):
        self.assertEqual(acc.uncovered(0, 10, [(1, 3), (2, 4), (6, 8)]), 5)

    def test_random_overlaps_stay_within_wall(self):
        rng = random.Random(7)
        for _ in range(500):
            start = rng.uniform(0, 50)
            end = start + rng.uniform(0, 30)
            jobs = []
            for _ in range(rng.randint(0, 12)):
                a = rng.uniform(-10, 90)
                jobs.append((a, a + rng.uniform(0, 25)))
            serial = acc.uncovered(start, end, jobs)
            self.assertGreaterEqual(serial, 0)
            self.assertLessEqual(serial, end - start + 1e-9)


class ActionKind(unittest.TestCase):
    def test_by_written_directory(self):
        self.assertEqual(acc.action_kind({"write": {"dir": "log"}}), "log")
        self.assertEqual(acc.action_kind({"write": {"dir": "delta"}}), "delta")
        self.assertEqual(acc.action_kind({"write": {"dir": "bg-seen-compact"}}), "compact_bg")
        self.assertEqual(acc.action_kind({"write": {"dir": "frontier-compact"}}),
                         "compact_valve")
        self.assertEqual(acc.action_kind({"write": {"dir": "web"}}), "gen")

    def test_seeds_finished_by_scanned_counts(self):
        e = {"write": {}, "scans": [{"tables": ["seedcnt", "delta/seedcnt"]}]}
        self.assertEqual(acc.action_kind(e), "seeds_finished")


if __name__ == "__main__":
    unittest.main()
