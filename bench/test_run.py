"""Tests of the benchmark's own arithmetic: summary statistics, span self
time, layer attribution, and the metric catalogue against BENCHMARK.json.

Run from the repository root: python3 -m unittest discover -s bench
"""
import json
import os
import statistics
import unittest

import run


class SummaryTest(unittest.TestCase):
    def test_quartiles_match_statistics_quantiles(self):
        vals = [5.0, 1.0, 4.0, 2.0, 3.0, 9.0, 7.0, 8.0, 6.0, 10.0]
        s = run.summary(vals)
        q1, med, q3 = statistics.quantiles(sorted(vals), n=4)
        self.assertEqual((s["q1"], s["median"], s["q3"]), (q1, med, q3))
        self.assertEqual(s["median"], 5.5)
        self.assertEqual((s["min"], s["max"], s["n"]), (1.0, 10.0, 10))

    def test_odd_count_median_is_middle_value(self):
        self.assertEqual(run.summary([3.0, 1.0, 2.0])["median"], 2.0)

    def test_single_sample(self):
        s = run.summary([4.2])
        self.assertEqual((s["q1"], s["median"], s["q3"], s["n"]), (4.2, 4.2, 4.2, 1))


class OrderTest(unittest.TestCase):
    def test_flat_workload_is_a_seeded_permutation(self):
        spec = run.WORKLOADS["tpch_sql"]
        a, b = run.pass_order(spec, 1), run.pass_order(spec, 1)
        self.assertEqual(a, b)
        self.assertEqual(sorted(a), sorted(spec["queries"]))
        self.assertNotEqual(a, run.pass_order(spec, 2))

    def test_staged_workload_keeps_ingest_first_and_stage_order(self):
        spec = run.WORKLOADS["youtube_pipeline"]
        for seed in range(20):
            order = run.pass_order(spec, seed)
            self.assertEqual(order[:3], spec["stages"]["ingest"])
            self.assertLess(order.index("k1_scc"), order.index("k2_component_agg"))
            self.assertEqual(sorted(order), sorted(spec["queries"]))


class SpanTest(unittest.TestCase):
    def test_union_merges_overlaps_and_clips(self):
        self.assertEqual(run.union_length([(0, 10), (5, 15), (20, 30)], 0, 100), 25)
        self.assertEqual(run.union_length([(0, 10), (2, 3)], 0, 100), 10)
        self.assertEqual(run.union_length([(-5, 5), (95, 120)], 0, 100), 10)
        self.assertEqual(run.union_length([], 0, 100), 0)

    def test_self_time_subtracts_children_once(self):
        spans = {
            1: {"start": 0, "end": 100, "parent": 0},    # pass
            2: {"start": 10, "end": 60, "parent": 1},    # query
            3: {"start": 10, "end": 40, "parent": 2},    # build
            4: {"start": 20, "end": 30, "parent": 3},    # job
            5: {"start": 25, "end": 35, "parent": 3},    # overlapping job
            6: {"start": 40, "end": 60, "parent": 2},    # sink
        }
        self.assertEqual(run.self_times(spans),
                         {1: 50, 2: 0, 3: 15, 4: 10, 5: 10, 6: 20})

    def test_pass_layers_attributes_jobs_and_planning(self):
        job = dict({k: 0 for k in ["stages", "tasks", "task_failures",
                                   "executor_run_ms", "executor_cpu_ns", "gc_ms",
                                   "shuffle_write_bytes", "shuffle_read_bytes",
                                   "spill_bytes"]}, tasks=4, executor_run_ms=2000)
        p = {"pass_s": 1.0, "queries": [{"name": "q", "wall_s": 0.9, "sink_bytes": 0}],
             "trace": {
                 "spans": [
                     {"id": 1, "parent": 0, "kind": "pass", "name": "pass", "start_ms": 0, "end_ms": 1000},
                     {"id": 2, "parent": 1, "kind": "query", "name": "q", "start_ms": 0, "end_ms": 900},
                     {"id": 3, "parent": 2, "kind": "build", "name": "q", "start_ms": 0, "end_ms": 500},
                     {"id": 4, "parent": 2, "kind": "sink", "name": "q", "start_ms": 500, "end_ms": 900}],
                 "jobs": [dict(job, id=0, parent=3, start_ms=100, end_ms=300),
                          dict(job, id=1, parent=4, start_ms=600, end_ms=800)],
                 "qes": [{"phases": {"analysis": {"start_ms": 500, "end_ms": 550}}}]}}
        spec = {"queries": ["q"], "sink": "noop", "query_jobs": True}
        m, spans = run.pass_layers(p, spec, cores=4)
        self.assertEqual(m["build_s"], 0.5)
        self.assertEqual(m["build.jobs"], 1)
        self.assertEqual(m["build.idle_s"], 0.3)
        self.assertEqual(m["plan_s"], 0.05)
        self.assertAlmostEqual(m["exec_s"], 0.35)
        self.assertEqual((m["jobs"], m["tasks"], m["q.q.jobs"]), (2, 8, 2))
        self.assertEqual(m["core_busy_frac"], 1.0)
        self.assertEqual(m["self.sink_s"], 0.15)
        self.assertEqual(m["self.pass_s"], 0.1)


class CatalogueTest(unittest.TestCase):
    def test_benchmark_json_matches_catalogue(self):
        path = os.path.join(run.ROOT, "BENCHMARK.json")
        if not os.path.exists(path):
            self.skipTest("BENCHMARK.json not present")
        with open(path) as f:
            doc = json.load(f)
        self.assertEqual([w["name"] for w in doc["workloads"]], list(run.WORKLOADS))
        self.assertEqual([(m["name"], m["unit"]) for m in doc["end_to_end"]], run.END_TO_END)
        self.assertEqual([(m["name"], m["unit"]) for m in doc["per_layer"]], run.PER_LAYER)

    def test_names_are_unique_and_within_limits(self):
        names = [n for n, _ in run.END_TO_END + run.PER_LAYER]
        self.assertEqual(len(names), len(set(names)))
        self.assertLessEqual(len(run.PER_LAYER), 128)
        self.assertTrue(all(len(n) <= 64 for n in names))


if __name__ == "__main__":
    unittest.main()
