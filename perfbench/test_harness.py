#!/usr/bin/env python3
"""Self-tests of the benchmark harness. Run from the repository root:

    python3 perfbench/test_harness.py

- a corrupted output row makes the output check fail, name the table, and
  make run.py exit non-zero (medallion_full and scd2_daily);
- the same seed gives byte-identical inputs and another seed different ones,
  for every workload;
- BENCHMARK.json matches perfbench/metrics.py.
"""
import json
import os
import shutil
import subprocess
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import build  # noqa: E402
import metrics  # noqa: E402
import run  # noqa: E402


def bench(*args):
    return subprocess.run([sys.executable, os.path.join(HERE, "run.py"), *args],
                          capture_output=True, text=True, timeout=600)


class CorruptedRowFailsTheCheck(unittest.TestCase):
    def corrupt(self, workload, table):
        p = bench("--workload", workload, "--seed", "3", "--seconds", "1", "--trace", "0",
                  "--corrupt", "1")
        self.assertNotEqual(p.returncode, 0, p.stderr[-2000:])
        last = json.loads(p.stdout.strip().splitlines()[-1])
        self.assertFalse(last["correct"])
        self.assertGreaterEqual(last["failed"], 1)
        self.assertIn(f"FAILED check {workload}.{table}", p.stderr)

    def test_medallion_fact_row(self):
        self.corrupt("medallion_full", "fact_listing_daily")

    def test_scd2_dim_row(self):
        self.corrupt("scd2_daily", "day1.dim_listing")


class SeededInputsAreDeterministic(unittest.TestCase):
    def gen(self, workload, seed):
        cp, _ = build.ensure_built(os.getcwd())
        work = os.path.join(os.getcwd(), build.BUILD, "work", f"gen-{workload}-{seed}")
        shutil.rmtree(work, ignore_errors=True)
        os.makedirs(work)
        log = os.path.join(os.getcwd(), build.BUILD, "logs", "test-gen.log")
        os.makedirs(os.path.dirname(log), exist_ok=True)
        try:
            _, out = run.launch(run.java_cmd(cp, work, ["--mode", "gen", "--workload", workload,
                                                        "--seed", str(seed)]), log, 170)
        finally:
            shutil.rmtree(work, ignore_errors=True)
        return out["input_sha256"]

    def test_same_seed_same_bytes(self):
        for w in metrics.ALL:
            with self.subTest(workload=w):
                a, b, c = self.gen(w, 5), self.gen(w, 5), self.gen(w, 6)
                self.assertEqual(a, b)
                self.assertNotEqual(a, c)


class BenchmarkJsonMatches(unittest.TestCase):
    def test_definition(self):
        with open("BENCHMARK.json") as f:
            self.assertEqual(json.load(f), metrics.benchmark_json())


if __name__ == "__main__":
    unittest.main(verbosity=2)
