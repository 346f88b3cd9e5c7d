#!/usr/bin/env python3
"""Self-tests of the benchmark's own machinery; no Spark session needed.

    python3 graftbench/selftest.py

Covers the event-log fold and the per-layer arithmetic on a tiny saved
event log, the choice of the untraced reference for the tracing
overhead, the oracle gate against a real oracle answer with one row
changed, dropped or duplicated, and the agreement between the metric
names and units in BENCHMARK.json and the ones the runner emits.
"""

from __future__ import annotations

import copy
import json
import os
import shutil
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

import gen  # noqa: E402
import layers  # noqa: E402
import oracle  # noqa: E402
import tracing  # noqa: E402

BUILD = "corpus_dedup:plans:build.semantic_dedup_survivors"
EXEC = "corpus_dedup:plans:exec.semantic_dedup_survivors"
CC = "corpus_dedup:operators.components:cc"


def _span(layer, call, k, wall, py4j):
    return {"layer": layer, "call": call, "pass": k, "wall_s": wall, "py4j": py4j}


class EventLogFold(unittest.TestCase):
    def setUp(self):
        self.folded = tracing.fold_event_log(
            tracing.read_event_log(os.path.join(HERE, "testdata")))

    def test_fold_per_group_and_pass(self):
        f = self.folded
        self.assertEqual(set(f), {(BUILD, 1), (EXEC, 1), (CC, 1),
                                  (BUILD, 2), (EXEC, 2), (CC, 2)})  # untagged job dropped
        self.assertEqual(f[(BUILD, 1)]["jobs"], 1)
        # a stage listed by two jobs keeps the key of the first one
        self.assertEqual(f[(EXEC, 1)]["jobs"], 2)
        self.assertEqual(f[(EXEC, 1)]["tasks"], 3)
        self.assertEqual(f[(EXEC, 1)]["run_ms"], 60)
        self.assertEqual(f[(EXEC, 1)]["cpu_ns"], 38_000_000)
        self.assertEqual(f[(EXEC, 1)]["shuffle_write_bytes"], 120)
        self.assertEqual(f[(EXEC, 1)]["spill_bytes"], 9)
        self.assertEqual(f[(EXEC, 1)]["scan_bytes"], 1200)
        self.assertEqual(f[(EXEC, 1)]["scan_tasks"], 2)
        # single-task stages carry no skew; stage 2 ran 10 ms and 30 ms
        self.assertEqual(f[(EXEC, 1)]["skew_max_ms"], 30)
        self.assertEqual(f[(EXEC, 1)]["skew_mean_ms"], 20)

    def test_per_layer_numbers(self):
        spans = [
            _span("plans", "build.semantic_dedup_survivors", 1, 0.5, 100),
            _span("plans", "exec.semantic_dedup_survivors", 1, 0.3, 4),
            _span("operators.components", "cc", 1, 1.0, 50),
            _span("plans", "build.semantic_dedup_survivors", 2, 0.7, 120),
            _span("plans", "exec.semantic_dedup_survivors", 2, 0.2, 4),
            _span("operators.components", "cc", 2, 1.2, 60),
            _span("plans", "build.semantic_dedup_survivors", 0, 9.0, 999),  # cold: outside
        ]
        setup = {"jvm_start_s": 3.0, "worker_spawn_s": 0.5}
        m, _ = layers.per_layer("corpus_dedup", spans, self.folded, {1, 2}, setup, {},
                                (4.0, "test"), edges=110)
        v = {k: val for k, (val, _) in m.items()}
        expect = {
            "session.jvm_start_s": 3.0, "plans.build_s": 0.6,
            "plans.build_py4j_calls": 110, "plans.build_jobs": 1, "plans.exec_s": 0.25,
            "plans.exec_jobs": 1.5, "plans.exec_tasks": 2.5, "plans.executor_run_ms": 50,
            "plans.executor_cpu_ms": 29, "plans.python_gap_ms": 21,
            "plans.shuffle_write_bytes": 120, "plans.spill_bytes": 4.5,
            "plans.scan_bytes": 1200, "plans.task_skew": 1.25,
            "plans.query.semantic_dedup_survivors_s": 0.85,
            "operators.components.cc_s": 1.1, "operators.components.cc_jobs": 1,
            "operators.components.cc_tasks": 1, "operators.components.edges_per_s": 100,
            "freshkart.pipeline.write_s": 0, "sources.index_store.commit_s": 0,
            "trace.overhead_pct": 4.0,
        }
        for k, want in expect.items():
            self.assertAlmostEqual(v[k], want, places=9, msg=k)


class TraceOverheadReference(unittest.TestCase):
    def setUp(self):
        self.dir = os.path.join(ROOT, ".graftbench", "selftest-overhead")
        shutil.rmtree(self.dir, ignore_errors=True)
        layers.record_untraced(self.dir, "base", "nightly", 7, 10.0)  # another commit
        layers.record_untraced(self.dir, "head", "nightly", 8, 10.0)  # another seed
        layers.record_untraced(self.dir, "head", "corpus_dedup", 7, 10.0)  # another workload
        self.children = []

    def tearDown(self):
        shutil.rmtree(self.dir, ignore_errors=True)

    def child(self, workload, seed):
        self.children.append((workload, seed))
        return 20.0

    def test_only_same_seed_and_code_count(self):
        pct, source = layers.trace_overhead("nightly", 7, 22.0, self.dir, "head", self.child)
        self.assertEqual(self.children, [("nightly", 7)])
        self.assertAlmostEqual(pct, 10.0)
        self.assertEqual(source, "untraced child run")
        layers.record_untraced(self.dir, "head", "nightly", 7, 11.0)
        pct, _ = layers.trace_overhead("nightly", 7, 22.0, self.dir, "head", self.child)
        self.assertEqual(len(self.children), 1)
        self.assertAlmostEqual(pct, 100.0)

    def test_code_key_follows_sources_and_cores(self):
        self.assertEqual(layers.code_key(ROOT, 2), layers.code_key(ROOT, 2))
        self.assertNotEqual(layers.code_key(ROOT, 2), layers.code_key(ROOT, 1))


class OracleGate(unittest.TestCase):
    @classmethod
    def setUpClass(cls):
        cls.dir = os.path.join(ROOT, ".graftbench", "selftest")
        shutil.rmtree(cls.dir, ignore_errors=True)
        import numpy as np

        gen.freshkart_batch(np.random.default_rng(5), cls.dir, days=1,
                            orders_per_day=40, n_customers=30)
        con = oracle._connect()
        cls.answer = oracle._sql_rows(
            con, oracle.freshkart_sql("freshkart_orders_clean", cls.dir))

    @classmethod
    def tearDownClass(cls):
        shutil.rmtree(cls.dir, ignore_errors=True)

    def mutated(self, fn):
        got = copy.deepcopy(self.answer)
        fn(got["rows"])
        return got

    def test_real_answer_has_rows(self):
        self.assertGreater(len(self.answer["rows"]), 5)

    def test_identical_result_passes(self):
        self.assertIsNone(oracle.compare(self.answer, self.mutated(lambda rows: rows.reverse())))

    def test_float_noise_below_9_digits_passes(self):
        rows = [[1, 0.1 + 0.2]]
        self.assertIsNone(oracle.compare(oracle.canonical(["a", "b"], [[1, 0.3]]),
                                         oracle.canonical(["a", "b"], rows)))

    def test_changed_row_is_rejected(self):
        i = self.answer["columns"].index("items_sold")
        self.assertIsNotNone(oracle.compare(
            self.answer, self.mutated(lambda rows: rows[3].__setitem__(i, rows[3][i] + 1))))

    def test_dropped_row_is_rejected(self):
        self.assertIsNotNone(oracle.compare(self.answer, self.mutated(lambda rows: rows.pop(2))))

    def test_duplicated_row_is_rejected(self):
        self.assertIsNotNone(oracle.compare(
            self.answer, self.mutated(lambda rows: rows.append(list(rows[1])))))


class MetricNames(unittest.TestCase):
    def setUp(self):
        with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
            self.spec = json.load(f)

    def test_end_to_end_names_and_units(self):
        emitted = layers.end_to_end(1.0, 2.0, 1.5, 300.0)
        self.assertEqual({m["name"]: m["unit"] for m in self.spec["end_to_end"]},
                         {k: u for k, (_, u) in emitted.items()})

    def test_per_layer_names_and_units(self):
        emitted, _ = layers.per_layer("nightly", [], {}, {1}, {"jvm_start_s": 1.0,
                                      "worker_spawn_s": 1.0}, {}, (0.0, "test"))
        self.assertEqual({m["name"]: m["unit"] for m in self.spec["per_layer"]},
                         {k: u for k, (_, u) in emitted.items()})

    def test_workloads(self):
        from workloads import PASSES, WORKLOADS

        names = {w["name"] for w in self.spec["workloads"]}
        self.assertEqual(names, set(WORKLOADS))
        self.assertEqual(names, set(PASSES))
        self.assertEqual(names, set(gen.SIZES))


if __name__ == "__main__":
    unittest.main()
