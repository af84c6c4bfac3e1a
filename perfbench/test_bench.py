#!/usr/bin/env python3
"""The benchmark's own tests.

Runs every workload at a tiny input size, untraced and traced, and checks
that each metric BENCHMARK.json declares is printed with its unit and that
every output check passed. Then shows that a deliberately wrong expected
output fails its check, and that the benchmark refuses to run outside a
checkout of the repository.

Usage: python3 perfbench/test_bench.py   (takes a few minutes)
"""
import json
import os
import shutil
import subprocess
import sys
import unittest

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)
sys.path.insert(0, BENCH_DIR)
sys.dont_write_bytecode = True

import metrics  # noqa: E402

# tiny inputs; curation keeps enough near-dup families for its recall check
SCALE = {"etl_reference": 0.05, "table_lifecycle": 0.05, "curation_dedup": 0.25}


def run(workload, trace, cwd=ROOT, corrupt=0, runner=None):
    cmd = [sys.executable, runner or os.path.join(BENCH_DIR, "run.py"),
           "--workload", workload, "--seed", "7", "--seconds", "1",
           "--trace", str(trace), "--scale", str(SCALE[workload]), "--corrupt", str(corrupt)]
    proc = subprocess.run(cmd, cwd=cwd, capture_output=True, text=True, timeout=300)
    lines = proc.stdout.strip().splitlines()
    result = json.loads(lines[-1]) if lines and lines[-1].startswith("{") else None
    return proc, result


class BenchmarkTest(unittest.TestCase):

    def check_run(self, workload, trace, section):
        proc, result = run(workload, trace)
        self.assertEqual(proc.returncode, 0, proc.stderr[-2000:])
        self.assertTrue(result["correct"])
        self.assertEqual(result["failed"], 0)
        self.assertGreaterEqual(result["attempted"], 1)
        declared = metrics.declared(section)
        self.assertEqual(list(result["metrics"]), [name for name, _ in declared])
        for name, unit in declared:
            m = result["metrics"][name]
            self.assertEqual(m["unit"], unit, name)
            self.assertIsInstance(m["value"], (int, float), name)
            if section == "end_to_end":
                self.assertGreater(m["value"], 0, name)
        return result

    def test_etl_reference(self):
        self.check_run("etl_reference", 0, "end_to_end")
        traced = self.check_run("etl_reference", 1, "per_layer")["metrics"]
        self.assertAlmostEqual(traced["ingest.csv_files_read_frac"]["value"], 2 / 6)
        self.assertGreater(traced["etl.products_write_s"]["value"], 0)

    def test_table_lifecycle(self):
        self.check_run("table_lifecycle", 0, "end_to_end")
        traced = self.check_run("table_lifecycle", 1, "per_layer")["metrics"]
        self.assertGreater(traced["table.merge.jobs_per_commit"]["value"], 0)
        self.assertGreater(traced["stream.versions_drained"]["value"], 0)

    def test_curation_dedup(self):
        self.check_run("curation_dedup", 0, "end_to_end")
        traced = self.check_run("curation_dedup", 1, "per_layer")["metrics"]
        self.assertGreater(traced["dedup.candidate_pairs"]["value"], 0)
        self.assertGreater(traced["plans.kernel_nodes"]["value"], 0)

    def test_wrong_output_fails_its_check(self):
        for workload in ("etl_reference", "table_lifecycle", "curation_dedup"):
            proc, result = run(workload, 0, corrupt=1)
            self.assertNotEqual(proc.returncode, 0, workload)
            self.assertFalse(result["correct"], workload)
            self.assertGreater(result["failed"], 0, workload)

    def test_refuses_to_run_without_the_engine_sources(self):
        bare = os.path.join(ROOT, ".bench_build", "bare")
        shutil.rmtree(bare, ignore_errors=True)
        os.makedirs(bare)
        shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
        shutil.copytree(BENCH_DIR, os.path.join(bare, "perfbench"),
                        ignore=shutil.ignore_patterns("__pycache__"))
        try:
            proc, result = run("etl_reference", 0, cwd=bare,
                               runner=os.path.join(bare, "perfbench", "run.py"))
            self.assertNotEqual(proc.returncode, 0)
            self.assertIsNone(result)
        finally:
            shutil.rmtree(bare, ignore_errors=True)


if __name__ == "__main__":
    unittest.main()
