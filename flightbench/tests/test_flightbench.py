#!/usr/bin/env python3
"""The benchmark's own tests: a tiny-scale smoke of every workload (a few
thousand events, the sf0.001 events table), the traced run's layer
invariants, and negative cases showing that a corrupted sink row or
catalog result is counted as a failure.

Run from the repository root:
    python3 -m unittest discover -s flightbench/tests -v
Each case starts one JVM; the first one in a fresh checkout also builds.
"""
import json
import shutil
import subprocess
import sys
import tempfile
import unittest
from pathlib import Path

BENCH = Path(__file__).resolve().parents[1]
ROOT = BENCH.parent
SPEC = json.loads((ROOT / "BENCHMARK.json").read_text())
E2E = [m["name"] for m in SPEC["end_to_end"]]
PER_LAYER = [m["name"] for m in SPEC["per_layer"]]
OUT = BENCH / "work" / "tests"
OUT.mkdir(parents=True, exist_ok=True)


def run(workload, trace=0, corrupt="none", seed=5, seconds=3):
    out = OUT / f"{workload}-t{trace}-{corrupt}.json"
    proc = subprocess.run(
        [sys.executable, str(BENCH / "run.py"), "--workload", workload, "--seed", str(seed),
         "--seconds", str(seconds), "--trace", str(trace), "--scale", "tiny",
         "--corrupt", corrupt, "--out", str(out)],
        cwd=ROOT, capture_output=True, text=True, timeout=900)
    if proc.returncode != 0:
        raise AssertionError(f"run failed ({proc.returncode}):\n{proc.stderr[-3000:]}")
    last = proc.stdout.strip().splitlines()[-1]
    return json.loads(last), json.loads(out.read_text())


class Smoke(unittest.TestCase):
    def check_result(self, result, names):
        self.assertEqual(set(result), {"correct", "attempted", "failed", "metrics"})
        self.assertEqual(list(result["metrics"]), names)
        for name, m in result["metrics"].items():
            self.assertIsInstance(m["value"], (int, float), name)
            self.assertTrue(m["unit"], name)
        self.assertGreaterEqual(result["attempted"], 1)

    def check_clean(self, workload):
        result, full = run(workload)
        self.check_result(result, E2E)
        self.assertTrue(result["correct"], full["detail"])
        self.assertEqual(result["failed"], 0)
        for name in E2E:
            self.assertGreater(result["metrics"][name]["value"], 0, name)
        ctx = full["context"]
        for key in ("commit", "nproc", "loadavg_start", "loadavg_end", "spark_conf", "seed"):
            self.assertIn(key, ctx)
        self.assertEqual(ctx["spark_conf"]["spark.sql.codegen.maxFields"], "200")
        self.assertEqual(ctx["spark_conf"]["spark.sql.shuffle.partitions"], str(ctx["cores"]))
        return full

    def test_stream_backlog(self):
        full = self.check_clean("stream_backlog")
        self.assertEqual(full["per_layer"]["streaming.dropped_by_watermark"], 0)
        written = full["per_layer"]["sinks.rows_written.raw_events"]
        self.assertEqual(written, full["detail"]["events"] - full["detail"]["malformed"])

    def test_catalog_flight(self):
        full = self.check_clean("catalog_flight")
        self.assertGreater(full["per_layer"]["artifacts.build_s"], 0)

    def test_traced_backlog_layers(self):
        result, full = run("stream_backlog", trace=1)
        self.check_result(result, PER_LAYER)
        self.assertTrue(result["correct"])
        m = {k: v["value"] for k, v in result["metrics"].items()}
        self.assertEqual(m["streaming.dropped_by_watermark"], 0)
        self.assertGreater(m["operators.malformed_generated"], 0)
        self.assertEqual(m["operators.parse_rejects"], m["operators.malformed_generated"])
        for name in ("operators.parse_events_per_s", "operators.window_events_per_s",
                     "sinks.jdbc_rows_per_s", "streaming.local1_events_per_s",
                     "trace.self_ms.streaming", "trace.self_ms.sources"):
            self.assertGreater(m[name], 0, name)
        spans = json.loads(Path(str(OUT / "stream_backlog-t1-none.json")[:-5] + ".trace.json")
                           .read_text())
        self.assertTrue(any(s["layer"] == "sources" for s in spans["spans"]))
        self.assertIn("end_to_end", full)

    def test_traced_catalog_layers(self):
        result, _ = run("catalog_flight", trace=1)
        self.check_result(result, PER_LAYER)
        m = {k: v["value"] for k, v in result["metrics"].items()}
        for name in ("catalog.construct_ms", "catalog.plan_ms", "catalog.exec_ms",
                     "catalog.jobs", "catalog.tasks", "catalog.exec_cpu_ms"):
            self.assertGreater(m[name], 0, name)


def build_outputs(directory, names):
    """What building and running leave behind (all of it git-ignored)."""
    skip = {"target", "work", "out"}
    if Path(directory).name == "project":
        skip.add("project")
    return [n for n in names if n in skip]


class Negative(unittest.TestCase):
    def test_corrupted_sink_row_is_caught(self):
        result, full = run("stream_backlog", corrupt="sink")
        self.assertFalse(result["correct"])
        self.assertGreaterEqual(result["failed"], 1)
        self.assertGreaterEqual(full["detail"]["checks"]["raw_events.mismatch"], 1)

    def test_corrupted_catalog_result_is_caught(self):
        result, full = run("catalog_flight", corrupt="catalog")
        self.assertFalse(result["correct"])
        self.assertGreaterEqual(result["failed"], 1)
        self.assertTrue(full["detail"]["failures"])

    def test_fails_without_library_sources(self):
        with tempfile.TemporaryDirectory(dir=BENCH / "work") as tmp:
            shutil.copy(ROOT / "BENCHMARK.json", tmp)
            shutil.copytree(BENCH, Path(tmp) / BENCH.name, ignore=build_outputs)
            proc = subprocess.run(
                [sys.executable, f"{BENCH.name}/run.py", "--workload", "catalog_flight",
                 "--seed", "1", "--seconds", "1", "--trace", "0"],
                cwd=tmp, capture_output=True, text=True, timeout=170)
        self.assertNotEqual(proc.returncode, 0)
        self.assertEqual(proc.stdout.strip(), "")


if __name__ == "__main__":
    unittest.main()
