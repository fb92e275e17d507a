#!/usr/bin/env python3
"""Tests of the benchmark's own logic.

Usage: python3 -m unittest discover -s perfbench -p 'test_*.py'

The workload-coverage test compiles the library once (through
`perfbench/build.py`) to list `SparkEntry.queries`.
"""
import json
import subprocess
import sys
import tempfile
import unittest
from pathlib import Path

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))

import metrics as M  # noqa: E402
import run  # noqa: E402
from workloads import WORKLOADS, family, members  # noqa: E402

BENCH = json.loads((HERE.parent / "BENCHMARK.json").read_text())


class TailPercentile(unittest.TestCase):
    def test_p90_needs_one_hundred_samples(self):
        self.assertEqual(M.min_samples(0.9), 100)
        self.assertEqual(M.min_samples(0.5), 20)

    def test_refuses_a_tail_with_fewer_than_ten_samples_above(self):
        with self.assertRaises(ValueError):
            M.tail_percentile(list(range(99)), 0.9)

    def test_reported_rank_has_ten_samples_above(self):
        xs = list(range(1, 101))
        p90 = M.tail_percentile(xs, 0.9)
        self.assertEqual(p90, 90)
        self.assertEqual(sum(1 for x in xs if x > p90), 10)

    def test_order_of_samples_does_not_matter(self):
        xs = [5, 1, 4, 2, 3] * 20
        self.assertEqual(M.tail_percentile(xs, 0.9), M.tail_percentile(sorted(xs), 0.9))


class SelfTime(unittest.TestCase):
    @staticmethod
    def span(i, parent, start, end, name="x"):
        return {"id": i, "parent": parent, "name": name, "start": start, "end": end}

    def test_overlapping_children_count_once(self):
        spans = [self.span(1, 0, 0, 100), self.span(2, 1, 10, 50), self.span(3, 1, 30, 70)]
        self.assertEqual(M.self_times(spans)[1], 40)

    def test_child_outside_parent_is_clipped(self):
        spans = [self.span(1, 0, 0, 100), self.span(2, 1, 90, 130)]
        self.assertEqual(M.self_times(spans), {1: 90, 2: 40})

    def test_grandchildren_do_not_reduce_the_grandparent_twice(self):
        spans = [self.span(1, 0, 0, 100, "query"), self.span(2, 1, 0, 60, "execute"),
                 self.span(3, 2, 10, 50, "job"), self.span(4, 3, 20, 40, "stage")]
        self.assertEqual(M.self_time_by_name(spans),
                         {"query": 40, "execute": 20, "job": 20, "stage": 20})

    def test_union_of_disjoint_and_nested_intervals(self):
        self.assertEqual(M.union_length([(0, 10), (2, 3), (20, 25)]), 15)
        self.assertEqual(M.union_length([(0, 10), (20, 25)], 5, 22), 7)
        self.assertEqual(M.union_length([]), 0)

    def test_descendants(self):
        spans = [self.span(1, 0, 0, 9, "construct"), self.span(2, 1, 1, 2, "job"),
                 self.span(3, 2, 1, 2, "stage"), self.span(4, 0, 5, 6, "job")]
        self.assertEqual(M.descendants(spans, {"construct"}), {2, 3})


class MetricNames(unittest.TestCase):
    def test_declared_names_use_the_allowed_characters(self):
        names = [m["name"] for m in BENCH["end_to_end"] + BENCH["per_layer"]]
        names += [w["name"] for w in BENCH["workloads"]]
        for n in names:
            M.check_name(n)
        self.assertEqual(len(names), len(set(names)))

    def test_every_computed_layer_metric_has_an_allowed_name(self):
        for n in run.LAYER_UNITS:
            M.check_name(n)

    def test_bad_names_are_refused(self):
        for n in ("pass s", "p90%", "_x", "a" * 65, "café"):
            with self.assertRaises(ValueError):
                M.check_name(n)

    def test_declared_metrics_are_computed(self):
        self.assertEqual({m["name"] for m in BENCH["end_to_end"]} - set(run.E2E_UNITS), set())
        self.assertEqual({m["name"] for m in BENCH["per_layer"]} - set(run.LAYER_UNITS), set())


class Inputs(unittest.TestCase):
    def test_every_table_is_in_the_data_directory(self):
        for t in run.TABLES:
            self.assertTrue((run.DATA_DIR / f"{t}.parquet").is_file(), t)


class Workloads(unittest.TestCase):
    @classmethod
    def setUpClass(cls):
        classpath = run.build.ensure()
        with tempfile.NamedTemporaryFile("r", suffix=".txt") as f:
            subprocess.run(["java", "-cp", classpath, "perfbench.Main", "--list-queries", f.name],
                           check=True, stdout=subprocess.DEVNULL, stderr=subprocess.DEVNULL)
            cls.keys = [k for k in f.read().split() if k]

    def test_workloads_partition_every_query(self):
        seen = {}
        for wl in WORKLOADS:
            for k in members(wl, self.keys):
                self.assertNotIn(k, seen, f"{k} is in {seen.get(k)} and {wl}")
                seen[k] = wl
        self.assertEqual(sorted(set(self.keys) - set(seen)), [],
                         "queries in no workload: add their family to perfbench/workloads.py")

    def test_every_family_has_queries(self):
        fams = {family(k) for k in self.keys}
        for wl, spec in WORKLOADS.items():
            self.assertEqual(sorted(set(spec["families"]) - fams), [], wl)

    def test_timed_queries_belong_to_their_workload(self):
        for wl, spec in WORKLOADS.items():
            self.assertEqual(sorted(set(spec["timed"]) - set(members(wl, self.keys))), [], wl)

    def test_benchmark_json_lists_defined_workloads(self):
        for w in BENCH["workloads"]:
            self.assertIn(w["name"], WORKLOADS)
            self.assertEqual(w["why"], WORKLOADS[w["name"]]["why"])


if __name__ == "__main__":
    unittest.main()
