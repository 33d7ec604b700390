#!/usr/bin/env python3
"""The benchmark's own tests: the generator is deterministic and keeps the
reference footer, the output checks accept the engine's real output and
reject perturbed copies of it, and two traced runs of one seed repeat
every count exactly.

Usage: python3 e2ebench/test_bench.py
Set SPARK_GRAFT_SF_DIR to a reference corpus directory (one holding
events.parquet) to compare the generated footer against it; without it
that test is skipped. The engine runs take a few minutes.
"""
import glob
import os
import shutil
import sys
import tempfile
import unittest

import pyarrow as pa
import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import check  # noqa: E402
import gen  # noqa: E402
import layers  # noqa: E402
import run  # noqa: E402

SEED = 7
WORK = os.path.join(os.path.dirname(HERE), ".bench_work")


def scratch():
    os.makedirs(WORK, exist_ok=True)
    return tempfile.TemporaryDirectory(prefix="test-", dir=WORK)


class GeneratorTest(unittest.TestCase):
    def test_same_seed_same_digest(self):
        with scratch() as d:
            for w in gen.WORKLOADS:
                a = gen.generate(w, SEED, os.path.join(d, w, "a"), "small")
                b = gen.generate(w, SEED, os.path.join(d, w, "b"), "small")
                c = gen.generate(w, SEED + 1, os.path.join(d, w, "c"), "small")
                self.assertEqual(a, b, w)
                self.assertNotEqual(a, c, w)

    def test_events_keep_the_reference_schema_and_footer(self):
        ref_dir = os.environ.get("SPARK_GRAFT_SF_DIR")
        if not ref_dir:
            self.skipTest("SPARK_GRAFT_SF_DIR not set")
        with scratch() as d:
            gen.generate("dashboard", SEED, os.path.join(d, "gen"), "small")
            ours = pq.ParquetFile(os.path.join(d, "gen", "events.parquet"))
            ref = pq.ParquetFile(os.path.join(ref_dir, "events.parquet"))
            self.assertEqual(ours.schema.to_arrow_schema(), ref.schema.to_arrow_schema())
            col = {c.name: c for c in ours.schema}["ts"]
            ref_col = {c.name: c for c in ref.schema}["ts"]
            self.assertEqual(col.physical_type, ref_col.physical_type)
            self.assertEqual(str(col.logical_type), str(ref_col.logical_type))
            self.assertIn("isAdjustedToUTC=false", str(col.logical_type))
            self.assertEqual(ours.metadata.created_by, ref.metadata.created_by)
            events = ours.read()
            self.assertTrue({"click", "purchase"} <= set(events.column("event_type").to_pylist()))


class EngineRunsTest(unittest.TestCase):
    """Two traced runs per workload on small inputs, shared by the tests."""
    runs = {}

    @classmethod
    def setUpClass(cls):
        os.makedirs(WORK, exist_ok=True)
        cls.tmp = tempfile.mkdtemp(prefix="test-", dir=WORK)
        for w in gen.WORKLOADS:
            cls.runs[w] = [run.run_workload(w, SEED, 2, 1, "small", os.path.join(cls.tmp, f"{w}{k}"))
                           for k in range(2)]

    @classmethod
    def tearDownClass(cls):
        shutil.rmtree(cls.tmp, ignore_errors=True)

    def paths(self, workload):
        work = self.runs[workload][0][0]["work"]
        return os.path.join(work, "out", "check"), os.path.join(work, "input")

    def perturbed(self, workload, edit):
        """Problems the check reports for a copy of the real output after
        `edit(check_dir)` changed it."""
        check_dir, data = self.paths(workload)
        copy = os.path.join(self.tmp, f"perturbed-{workload}")
        shutil.rmtree(copy, ignore_errors=True)
        shutil.copytree(check_dir, copy)
        edit(copy)
        return check.check(workload, copy, data, run.THROTTLE_GAP_MS)

    def test_real_output_is_accepted(self):
        for w, runs in self.runs.items():
            for summary, problems in runs:
                self.assertEqual(problems, [], w)
                self.assertEqual(summary["failed"], 0, w)

    @staticmethod
    def rewrite(directory, change):
        path = glob.glob(os.path.join(directory, "*.parquet"))[0]
        table = pq.read_table(path)
        for p in glob.glob(os.path.join(directory, "*.parquet")):
            os.remove(p)
        pq.write_table(change(table), os.path.join(directory, "part-0.parquet"))

    def test_dropped_row_is_rejected(self):
        def drop(d):
            self.rewrite(os.path.join(d, "dashboard", "q2_hourly_avg"), lambda t: t.slice(1))
        self.assertTrue(any("q2_hourly_avg" in p for p in self.perturbed("dashboard", drop)))

        def drop_sink_row(d):
            path = os.path.join(d, "ingest", "main.tsv")
            with open(path) as fh:
                lines = fh.read().splitlines()
            with open(path, "w") as fh:
                fh.write("\n".join(lines[:-1]) + "\n")
        self.assertTrue(any("1 rows missing" in p for p in self.perturbed("ingest", drop_sink_row)))

    def test_value_moved_past_rounding_is_rejected(self):
        def move(table):
            i = table.schema.get_field_index("avg_value")
            v = table.column(i).to_pylist()
            v[0] = round(v[0] + 0.0001, 4)
            return table.set_column(i, table.schema.field(i), pa.array(v, type=pa.float64()))

        problems = self.perturbed("dashboard", lambda d: self.rewrite(
            os.path.join(d, "dashboard", "q2_hourly_avg"), move))
        self.assertTrue(any("col avg_value differs" in p for p in problems), problems)

    def test_flipped_kept_is_rejected(self):
        def flip(table):
            i = table.schema.get_field_index("kept")
            v = table.column(i).to_pylist()
            v[0] = not v[0]
            return table.set_column(i, table.schema.field(i), pa.array(v, type=pa.bool_()))

        problems = self.perturbed("dedup", lambda d: self.rewrite(
            os.path.join(d, "dedup", "verdicts"), flip))
        self.assertTrue(any("col kept differs" in p for p in problems), problems)

    def test_every_traced_job_is_attributed(self):
        for w, runs in self.runs.items():
            spans = layers.load(os.path.join(runs[0][0]["work"], "out", "trace.jsonl"))
            loose = [s["detail"] for s in spans
                     if s["layer"] == "exec" and s["name"] == "job" and s["parent"] == -1]
            self.assertEqual(loose, [], w)

    def test_traced_counts_repeat(self):
        for w, ((a, _), (b, _)) in self.runs.items():
            self.assertEqual(a["digest"], b["digest"], w)
            for name in layers.COUNTS:
                self.assertEqual(a["per_layer"][name], b["per_layer"][name], f"{w} {name}")


if __name__ == "__main__":
    unittest.main(verbosity=2)
