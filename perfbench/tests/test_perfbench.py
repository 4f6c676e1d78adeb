"""Tests for the benchmark's own code (no JVM needed):

    python3 -m unittest discover -s perfbench/tests
"""
import json
import os
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

import gen  # noqa: E402
import metrics  # noqa: E402


def manifest(d):
    with open(os.path.join(d, "manifest.json")) as f:
        return json.load(f)


class GeneratorTest(unittest.TestCase):
    @classmethod
    def setUpClass(cls):
        cls.tmp = tempfile.TemporaryDirectory()
        for name, seed in [("a", 7), ("b", 7), ("c", 8)]:
            gen.generate(os.path.join(cls.tmp.name, name), seed)

    @classmethod
    def tearDownClass(cls):
        cls.tmp.cleanup()

    def test_same_seed_gives_byte_identical_inputs(self):
        a, b = (manifest(os.path.join(self.tmp.name, x)) for x in "ab")
        self.assertEqual(a, b)
        self.assertIn("tables/lineitem.parquet", a)
        self.assertIn("inputs.json", a)

    def test_other_seed_gives_other_inputs(self):
        a, c = (manifest(os.path.join(self.tmp.name, x)) for x in "ac")
        self.assertEqual(a.keys(), c.keys())
        fixed = {"tables/region.parquet", "tables/nation.parquet"}   # constant in TPC-H too
        same = {k for k in a if k.endswith(".parquet") and a[k] == c[k]}
        self.assertEqual(same, fixed)

    def test_one_workload_generates_the_same_bytes_as_all(self):
        with tempfile.TemporaryDirectory() as d:
            gen.generate(d, 7, "corpus_pipeline")
            one, full = manifest(d), manifest(os.path.join(self.tmp.name, "a"))
            for k in one:
                if k.startswith("corpus/"):
                    self.assertEqual(one[k], full[k], k)

    def test_inputs_are_sized_from_the_window(self):
        with tempfile.TemporaryDirectory() as d:
            short = gen.generate(os.path.join(d, "s"), 7, "ingest_mixed", 5)
            long = gen.generate(os.path.join(d, "l"), 7, "ingest_mixed", 20)
            self.assertLess(len(short["ingest"]["steps"]), len(long["ingest"]["steps"]))
            plan = long["ingest"]
            # the first window step compacts and upserts; every batch it
            # touches exists, the next one too (the probe's)
            first = plan["steps"][0]
            for kind in ["events", "docs", "upsert"]:
                self.assertTrue(os.path.isfile(os.path.join(
                    d, "l", "ingest", f"{kind}_{first:04d}.parquet")), kind)
            last = plan["steps"][-1] + 1
            self.assertTrue(os.path.isfile(os.path.join(d, "l", "ingest", f"docs_{last:04d}.parquet")))
            self.assertEqual(plan["preload"], list(range(1, first)))

    def test_request_mix_covers_every_class_each_round(self):
        with open(os.path.join(self.tmp.name, "a", "inputs.json")) as f:
            meta = json.load(f)
        names = [n for ns in meta["request_classes"].values() for n in ns]
        seq = meta["requests"]
        for r in range(0, len(seq), len(names)):
            self.assertEqual(sorted(seq[r:r + len(names)]), sorted(names))


class PercentileTest(unittest.TestCase):
    def test_reports_sample_count(self):
        self.assertEqual(metrics.percentile([3, 1, 2], 0.5), (2, 3))
        v, n = metrics.percentile(list(range(1, 101)), 0.95)
        self.assertEqual((v, n), (95, 100))

    def test_refuses_unsupported_percentile(self):
        with self.assertRaises(metrics.Unsupported):
            metrics.percentile(list(range(19)), 0.95)
        with self.assertRaises(metrics.Unsupported):
            metrics.percentile([1.0], 0.5)
        self.assertEqual(metrics.percentile(list(range(20)), 0.95)[1], 20)
        with self.assertRaises(ValueError):
            metrics.percentile([1, 2, 3], 1.0)


def ops(*kinds):
    return [{"name": k, "class": "x", "ms": ms, "error": ""} for k, ms in kinds]


class OpLatencyTest(unittest.TestCase):
    def test_kinds_weigh_the_same_wherever_the_window_ends(self):
        # a long maintenance kind once, a short kind once or twice: the
        # typical latency does not jump with the number of short ops
        one = {"workload": "ingest_mixed", "ops": ops(("compact", 1000.0), ("append", 100.0))}
        two = {"workload": "ingest_mixed",
               "ops": ops(("compact", 1000.0), ("append", 100.0), ("append", 100.0))}
        self.assertAlmostEqual(metrics.op_latency(one), 316.227766, places=5)
        self.assertAlmostEqual(metrics.op_latency(two), metrics.op_latency(one))

    def test_corpus_work_is_docs_per_pipeline_of_stage_medians(self):
        rec = {"workload": "corpus_pipeline", "counters": {"input_docs": 1000},
               "ops": ops(("clean", 200.0), ("dedup", 800.0), ("clean", 400.0))}
        self.assertAlmostEqual(metrics.work_per_s(rec), 1000 / 1.1)


def record(workload):
    """A minimal run record, shaped like perfbench.Main's result.json."""
    ops = [{"name": f"op{i}", "class": "relational", "ms": 100.0 + i, "error": ""}
           for i in range(25)]
    spans = [{"id": 1, "parent": 0, "name": "op.relational", "req": 1, "start_ns": 0,
              "end_ns": 10_000_000, "jobs": 0, "tasks": 0, "run_ms": 0, "cpu_ms": 0.0,
              "shuffle_bytes": 0, "spill_bytes": 0, "job_wall_ms": 0},
             {"id": 2, "parent": 1, "name": "queries.build", "req": 1, "start_ns": 0,
              "end_ns": 4_000_000, "jobs": 1, "tasks": 2, "run_ms": 3, "cpu_ms": 2.0,
              "shuffle_bytes": 10, "spill_bytes": 0, "job_wall_ms": 3},
             {"id": 3, "parent": 1, "name": "exec.collect", "req": 1, "start_ns": 4_000_000,
              "end_ns": 9_000_000, "jobs": 2, "tasks": 4, "run_ms": 6, "cpu_ms": 5.0,
              "shuffle_bytes": 20, "spill_bytes": 0, "job_wall_ms": 4}]
    return {"workload": workload, "ops": ops, "window_ms": 12.0, "live_heap_mb": 80.0,
            "session_ms": 3000.0, "setup_ms": 10.0, "warmup_ms": 9000.0, "cores": 4,
            "series": {"commit": [5.0, 6.0]},
            "counters": {"user_rows": 10, "write_wall_ms": 11.0, "user_bytes": 100,
                         "input_docs": 1280, "preload_bytes": 50,
                         "bytes_written": 150, "live_bytes": 120},
            "host": {"proc_cpu_ms": 1.0, "steal_ms": 0.0, "jvm_gc_ms": 0.0,
                     "cpu_per_wall": 1.0, "wall_ms": 12.0},
            "spans": spans, "untagged_jobs": 0, "streaming": {"batches": 0}}


class MetricsTest(unittest.TestCase):
    def test_every_metric_is_emitted_with_name_and_unit(self):
        spec = metrics.spec()
        for wl in ["interactive_mix", "corpus_pipeline", "ingest_mixed"]:
            rec = record(wl)
            for kind, values in [("end_to_end", metrics.end_to_end(rec, 20.0)),
                                 ("per_layer", metrics.per_layer(rec, 0, 25))]:
                out = metrics.emit(values, kind)
                self.assertEqual(list(out), [d["name"] for d in spec[kind]])
                for d in spec[kind]:
                    self.assertEqual(out[d["name"]]["unit"], d["unit"])
                    self.assertIsInstance(out[d["name"]]["value"], float)

    def test_missing_metric_is_an_error(self):
        with self.assertRaises(KeyError):
            metrics.emit({}, "end_to_end")

    def test_self_times_account_for_the_window(self):
        rec = record("interactive_mix")
        selfs, outside = metrics.self_times(rec)
        self.assertAlmostEqual(selfs["queries"], 4.0)
        self.assertAlmostEqual(selfs["exec"], 5.0)
        self.assertAlmostEqual(sum(selfs.values()) + outside, rec["window_ms"])

    def test_spec_is_within_the_contract(self):
        spec = metrics.spec()
        self.assertEqual(set(spec), {"command", "paths", "run_seconds", "workloads",
                                     "end_to_end", "per_layer"})
        self.assertTrue(2 <= len(spec["workloads"]) <= 8)
        self.assertTrue(1 <= len(spec["per_layer"]) <= 128)
        names = [d["name"] for k in ("end_to_end", "per_layer", "workloads") for d in spec[k]]
        self.assertEqual(len(names), len(set(names)))
        setup = [d for d in spec["end_to_end"] if d["name"] == "setup_s"]
        self.assertEqual(setup[0]["unit"], "s")
        self.assertTrue(all(d["bound"] <= setup[0]["bound"] <= 0.25 for d in spec["end_to_end"]))
        self.assertTrue(all(len(w["why"]) <= 200 for w in spec["workloads"]))


if __name__ == "__main__":
    unittest.main()
