"""Tests for the benchmark's pure helpers:
python3 -m unittest discover -s perfbench -p 'test_*.py'"""
import json
import os
import unittest

import run
from metrics import job_split, p50, p90, self_times, union_length, valid_name

HERE = os.path.dirname(os.path.abspath(__file__))


class PercentileTest(unittest.TestCase):
    def test_median(self):
        self.assertEqual(p50([3, 1, 2]), 2)
        self.assertEqual(p50([4, 1, 2, 3]), 2.5)
        self.assertIsNone(p50([]))

    def test_p90_needs_ten_samples_beyond_it(self):
        self.assertIsNone(p90([]))
        self.assertIsNone(p90(list(range(99))))
        xs = list(range(1, 101))  # 1..100
        self.assertEqual(p90(xs), 90)  # 91..100 lie beyond
        self.assertEqual(p90(list(reversed(xs))), 90)
        self.assertEqual(p90(list(range(1, 201))), 180)


class IntervalTest(unittest.TestCase):
    def test_union_merges_overlaps_and_gaps(self):
        self.assertEqual(union_length([]), 0)
        self.assertEqual(union_length([(0, 10), (5, 15), (20, 25)]), 20)
        self.assertEqual(union_length([(5, 15), (0, 10)]), 15)
        self.assertEqual(union_length([(0, 10), (2, 3)]), 10)
        self.assertEqual(union_length([(0, 5), (5, 8)]), 8)
        self.assertEqual(union_length([(3, 3), (4, 2)]), 0)

    def test_job_split(self):
        # op 0..100; jobs overlap each other and one starts before the op
        in_jobs, driver = job_split(0, 100, [(-5, 20), (10, 30), (60, 70)])
        self.assertEqual(in_jobs, 40)
        self.assertEqual(driver, 60)
        self.assertEqual(job_split(0, 10, []), (0, 10))


class SelfTimeTest(unittest.TestCase):
    def test_self_time_subtracts_covered_children(self):
        spans = [
            {"layer": "driver", "start": 0, "end": 100, "parent": -1},
            {"layer": "scheduler", "start": 10, "end": 40, "parent": 0},
            {"layer": "scheduler", "start": 30, "end": 50, "parent": 0},
            {"layer": "sources", "start": 60, "end": 120, "parent": 0},
            {"layer": "catalyst", "start": 65, "end": 70, "parent": 3},
        ]
        st = self_times(spans)
        # root: 100 minus union{10..50, 60..100} = 100 - 80
        self.assertEqual(st["driver"], 20)
        self.assertEqual(st["scheduler"], 50)
        self.assertEqual(st["sources"], 55)
        self.assertEqual(st["catalyst"], 5)


class NameTest(unittest.TestCase):
    def test_pattern(self):
        self.assertTrue(valid_name("sources.commit_stage_s"))
        self.assertTrue(valid_name("read_p50_s"))
        self.assertFalse(valid_name("bad name"))
        self.assertFalse(valid_name(""))
        self.assertFalse(valid_name("x/y"))

    def test_declared_names(self):
        with open(os.path.join(HERE, "..", "BENCHMARK.json")) as f:
            bench = json.load(f)
        names = [m["name"] for k in ("end_to_end", "per_layer")
                 for m in bench[k]] + [w["name"] for w in bench["workloads"]]
        self.assertEqual(len(names), len(set(names)))
        for n in names:
            self.assertTrue(valid_name(n), n)
        # run.py reports exactly the declared metrics, with their units
        for key, reported in (("end_to_end", run.END_TO_END),
                              ("per_layer", run.PER_LAYER)):
            self.assertEqual({m["name"]: m["unit"] for m in bench[key]},
                             reported)
        self.assertEqual([w["name"] for w in bench["workloads"]],
                         run.WORKLOADS)


if __name__ == "__main__":
    unittest.main()
