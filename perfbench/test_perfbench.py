#!/usr/bin/env python3
"""Tests of the benchmark itself. Run from the root of a graft checkout:

    python3 perfbench/test_perfbench.py

The last test builds graft and runs the JVM half on the self-test
workload (perfbench/scala/SelfTestWorkload.scala), about a minute.
"""
import datetime
import decimal
import json
import os
import shutil
import sys
import tempfile
import types
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import metrics  # noqa: E402
import oracle  # noqa: E402
import run  # noqa: E402


class PercentileRule(unittest.TestCase):
    def test_reported_only_with_ten_samples_beyond(self):
        self.assertIsNone(metrics.percentile(range(1, 100), 0.9))  # 99 samples: 9 beyond
        self.assertEqual(metrics.percentile(range(1, 101), 0.9), 90)  # 100 samples: 10 beyond
        self.assertEqual(metrics.percentile(range(1, 201), 0.9), 180)
        self.assertIsNone(metrics.percentile([], 0.5))

    def test_median_needs_ten_beyond_too(self):
        self.assertIsNone(metrics.percentile(range(19), 0.5))
        self.assertEqual(metrics.percentile(range(20), 0.5), 9)


class SelfTime(unittest.TestCase):
    def span(self, i, parent, start, end, layer="bench"):
        return {"id": i, "parent": parent, "op_id": 0, "name": str(i), "layer": layer,
                "start_ns": start, "end_ns": end}

    def test_hand_built_tree(self):
        spans = [
            self.span(1, 0, 0, 100),             # pass
            self.span(2, 1, 10, 60, "op"),       # op A
            self.span(3, 2, 10, 30, "operators"),  # build
            self.span(4, 2, 32, 35, "catalyst"),   # plan
            self.span(5, 2, 35, 60, "execution"),  # execute
            self.span(6, 1, 70, 90, "op"),       # op B, one child overrunning its end
            self.span(7, 6, 75, 95, "models"),
        ]
        s = metrics.self_times(spans)
        self.assertEqual(s[1], 100 - 50 - 20)
        self.assertEqual(s[2], 50 - 20 - 3 - 25)
        self.assertEqual(s[3], 20)
        self.assertEqual(s[6], 20 - 15)
        self.assertEqual(s[7], 20)

    def test_overlapping_children_count_once(self):
        spans = [self.span(1, 0, 0, 100), self.span(2, 1, 10, 50), self.span(3, 1, 40, 70)]
        self.assertEqual(metrics.self_times(spans)[1], 100 - 60)

    def test_descendants(self):
        spans = [self.span(1, 0, 0, 9), self.span(2, 1, 0, 9), self.span(3, 2, 0, 9),
                 self.span(4, 0, 0, 9)]
        self.assertEqual(sorted(s["id"] for s in metrics.descendants(spans, 1)), [2, 3])


class Canonical(unittest.TestCase):
    def test_numbers_agree_across_types(self):
        self.assertEqual(oracle.canon(5), "n:5")
        self.assertEqual(oracle.canon(5.0), "n:5")
        self.assertEqual(oracle.canon(decimal.Decimal("5.00")), "n:5")
        self.assertEqual(oracle.canon(-0.0), "n:0")
        self.assertEqual(oracle.canon(1.5), "n:1.5")
        self.assertNotEqual(oracle.canon(0.1), oracle.canon(decimal.Decimal("0.1")))
        self.assertEqual(oracle.canon(decimal.Decimal("1E+2")), "n:100")

    def test_other_types(self):
        self.assertEqual(oracle.canon("x"), "s:x")
        self.assertEqual(oracle.canon(datetime.date(2024, 1, 2)), "D:2024-01-02")
        self.assertEqual(oracle.canon(datetime.datetime(1970, 1, 1, 0, 0, 1, 5)), "t:1000005")
        self.assertEqual(oracle.canon([1, None, True]), ["n:1", None, True])
        self.assertEqual(oracle.canon({"a": 1}), {"a": "n:1"})

    def test_digest_ignores_row_order(self):
        a = [{"k": "n:1"}, {"k": "n:2"}]
        self.assertEqual(oracle.digest(a), oracle.digest(list(reversed(a))))
        self.assertNotEqual(oracle.digest(a), oracle.digest([{"k": "n:1"}, {"k": "n:3"}]))


class MergeFold(unittest.TestCase):
    def test_update_wins_column_by_column_delete_drops_unmatched_inserts(self):
        import pyarrow as pa
        import pyarrow.parquet as pq
        d = tempfile.mkdtemp()
        try:
            os.makedirs(os.path.join(d, "writeback"))
            pq.write_table(pa.Table.from_pylist(
                [{"c_custkey": 1, "segment": "A", "acctbal_cents": 10},
                 {"c_custkey": 2, "segment": "B", "acctbal_cents": 20},
                 {"c_custkey": 3, "segment": "C", "acctbal_cents": 30}],
                __import__("inputs").TARGET_SCHEMA), os.path.join(d, "writeback", "target.parquet"))
            pq.write_table(pa.Table.from_pylist(
                [{"c_custkey": 1, "segment": "A", "acctbal_cents": None, "is_deleted": False},
                 {"c_custkey": 2, "segment": "B", "acctbal_cents": 21, "is_deleted": False},
                 {"c_custkey": 3, "segment": "C", "acctbal_cents": None, "is_deleted": True},
                 {"c_custkey": 4, "segment": "A", "acctbal_cents": 40, "is_deleted": False}],
                __import__("inputs").BATCH_SCHEMA), os.path.join(d, "writeback", "batch-0.parquet"))
            (state,) = oracle.fold_states(d)
            got = sorted((r["c_custkey"], r["segment"], r["acctbal_cents"]) for r in state)
            self.assertEqual(got, [("n:1", "s:A", "n:10"), ("n:2", "s:B", "n:21"),
                                   ("n:4", "s:A", "n:40")])
        finally:
            shutil.rmtree(d)


class PositiveControlAndAttribution(unittest.TestCase):
    """Runs the JVM half on the self-test workload with tracing on."""

    @classmethod
    def setUpClass(cls):
        root = os.getcwd()
        jar, archive = run.build(root)
        cls.run_dir = tempfile.mkdtemp(dir=os.path.join(root, ".bench_build"))
        inputs_dir = os.path.join(cls.run_dir, "inputs")
        os.makedirs(inputs_dir)
        args = types.SimpleNamespace(workload="selftest", seed=1, seconds=0.1, trace=1)
        cls.rec = run.run_jvm(jar, f"-XX:SharedArchiveFile={archive}", cls.run_dir, args,
                              os.path.join(run.BENCH, "data", "sf0.001"), inputs_dir,
                              timeout=run.JVM_TIMEOUT_S)
        cls.verdicts = oracle.check(os.path.join(cls.run_dir, "outputs.jsonl"), inputs_dir)

    @classmethod
    def tearDownClass(cls):
        shutil.rmtree(cls.run_dir, ignore_errors=True)

    def test_corrupted_output_and_thrown_op_count_as_errors_without_timing(self):
        self.assertIsNone(self.verdicts["build_job"])
        self.assertIn("content hash differs", self.verdicts["corrupted"])
        self.assertIn("deliberate failure", self.verdicts["throws"])
        e2e = metrics.end_to_end(self.rec, self.verdicts)
        untraced = [o for o in self.rec["ops"] if not metrics._traced_pass(self.rec, o["pass"])]
        self.assertEqual(e2e["_attempted"], len(untraced))
        self.assertEqual(e2e["_failed"], 2 * len(untraced) // 3)
        self.assertAlmostEqual(e2e["error_rate"], 2 / 3)
        self.assertEqual(e2e["_samples"], len(untraced) // 3)  # only build_job is timed
        thrown = [o for o in self.rec["ops"] if o["op"] == "throws"]
        self.assertTrue(thrown and all(not o["ok"] and o["build_ns"] == 0 for o in thrown))
        self.assertFalse(any(p["ok"] for p in self.rec["passes"]))

    def test_job_started_in_build_lands_in_build_not_execution(self):
        spans = {s["id"]: s for s in self.rec["spans"]}
        counters = self.rec["counters"]
        ids = {o["op_id"] for o in self.rec["ops"] if o["op"] == "build_job"
               and metrics._traced_pass(self.rec, o["pass"])}
        self.assertTrue(ids)
        for op_id in ids:
            phase = {s["name"]: counters.get(str(s["id"]), {}) for s in spans.values()
                     if s["op_id"] == op_id and s["name"] in ("build", "execute")}
            self.assertEqual((phase["build"]["jobs"], phase["build"]["tasks"]), (1, 7))
            self.assertEqual((phase["execute"]["jobs"], phase["execute"]["tasks"]), (1, 1))
        # the same through the per-layer metrics of a pass
        p = next(p for p in self.rec["passes"] if p["traced"])
        m = metrics.pass_layers(self.rec, p, metrics.self_times(self.rec["spans"]))
        self.assertEqual(m["operators.build_jobs"], 1)
        self.assertEqual(m["execution.jobs"], 2)
        self.assertEqual(m["execution.tasks"], 2)


if __name__ == "__main__":
    unittest.main()
