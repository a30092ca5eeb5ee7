#!/usr/bin/env python3
"""The benchmark's own tests. Run from the repository root:

    python3 perfbench/test_bench.py

Smoke runs of every workload at tiny size (untraced and traced) check
that every metric BENCHMARK.json declares is emitted with its unit, and
that each workload's named figures are printed. Negative runs check that
a deliberately wrong expected value is reported as a failure, both for
results checked inside the JVM (serve) and against the DuckDB oracle
(batch). A run from a directory holding only the benchmark must fail
without a result line. Takes about six minutes on a 4-core host.
"""
import json
import os
import shutil
import subprocess
import sys
import unittest

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
SPEC = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
NAMED = {
    "serve": ["lookup_p50_ms", "lookup_p90_ms", "sql_lookup_p50_ms", "range_p50_ms",
              "range_p90_ms", "serve_ops_per_s"],
    "ingest_compact": ["ingest_rows_per_s", "compact_rows_per_s", "merge_scan_rows_per_s",
                       "cycle_s", "stored_bytes_per_row"],
    "batch": ["batch_total_s", "batch_geomean_ms"],
}
COMMON = ["setup_s", "failed_frac", "peak_rss_mb"]


def run(workload, trace, *extra, cwd=ROOT, script=os.path.join(BENCH, "run.py")):
    p = subprocess.run([sys.executable, script, "--workload", workload, "--seed", "7",
                        "--seconds", "2", "--trace", str(trace), "--size", "tiny", *extra],
                       cwd=cwd, capture_output=True, text=True, timeout=900)
    return p.returncode, p.stdout.strip().splitlines(), p.stderr


class Smoke(unittest.TestCase):
    def check(self, workload, trace):
        code, lines, err = run(workload, trace)
        self.assertEqual(code, 0, err[-3000:])
        res = json.loads(lines[-1])
        self.assertEqual(set(res), {"correct", "attempted", "failed", "metrics"})
        self.assertTrue(res["correct"], err[-3000:])
        self.assertEqual(res["failed"], 0)
        self.assertGreaterEqual(res["attempted"], 1)
        declared = SPEC["per_layer"] if trace else SPEC["end_to_end"]
        self.assertEqual(set(res["metrics"]), {m["name"] for m in declared})
        for m in declared:
            self.assertEqual(res["metrics"][m["name"]]["unit"], m["unit"], m["name"])
        named_line = [l for l in lines if l.startswith("perfbench named metrics: ")]
        named = json.loads(named_line[-1].split(": ", 1)[1])
        for n in NAMED[workload] + COMMON:
            self.assertIn(n, named)
            self.assertTrue(named[n]["unit"])
        conditions = json.loads([l for l in lines if l.startswith("perfbench conditions: ")]
                                [-1].split(": ", 1)[1])
        for c in ("nproc", "master", "xmx_mb", "seed", "foreign_cpu_share"):
            self.assertIn(c, conditions)

    def test_serve(self):
        self.check("serve", 0)

    def test_serve_traced(self):
        self.check("serve", 1)

    def test_ingest_compact(self):
        self.check("ingest_compact", 0)

    def test_ingest_compact_traced(self):
        self.check("ingest_compact", 1)

    def test_batch(self):
        self.check("batch", 0)

    def test_batch_traced(self):
        self.check("batch", 1)


class WrongExpected(unittest.TestCase):
    def check(self, workload):
        code, lines, err = run(workload, 0, "--wrong-expected")
        self.assertEqual(code, 0, err[-3000:])
        res = json.loads(lines[-1])
        self.assertFalse(res["correct"])
        self.assertGreater(res["failed"], 0)
        named = json.loads([l for l in lines if l.startswith("perfbench named metrics: ")]
                           [-1].split(": ", 1)[1])
        self.assertGreater(named["failed_frac"]["value"], 0)

    def test_serve(self):
        self.check("serve")

    def test_batch_oracle(self):
        self.check("batch")


class Classpath(unittest.TestCase):
    def test_registers_graft_source_in_a_fresh_checkout(self):
        # `sbt compile` does not copy the service file that registers the
        # "graft" DSv2 source into target/, so it must come from the sources
        sys.path.insert(0, BENCH)
        import run as bench_run
        service = os.path.join("META-INF", "services",
                               "org.apache.spark.sql.sources.DataSourceRegister")
        entries = bench_run.classpath(["engine-classes", "bench-classes"], "jars").split(":")
        self.assertTrue(any(os.path.isfile(os.path.join(e, service)) for e in entries))


class BareDirectory(unittest.TestCase):
    def test_fails_without_sources(self):
        bare = os.path.join(BENCH, ".work", "bare")
        shutil.rmtree(bare, ignore_errors=True)
        shutil.copytree(BENCH, os.path.join(bare, "perfbench"),
                        ignore=shutil.ignore_patterns(".*", "target", "__pycache__"))
        shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
        try:
            code, lines, _ = run("serve", 0, cwd=bare,
                                 script=os.path.join(bare, "perfbench", "run.py"))
            self.assertNotEqual(code, 0)
            self.assertFalse(any(l.startswith("{") for l in lines))
        finally:
            shutil.rmtree(bare, ignore_errors=True)


if __name__ == "__main__":
    unittest.main(verbosity=2)
