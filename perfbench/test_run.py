#!/usr/bin/env python3
"""The benchmark's own test: no hidden failures.

Runs the registry workload with one query that throws and one whose
result disagrees with its oracle added to the sample, and checks that
both are counted as failed, that neither is a timing sample, that the
result says `correct: false`, and that the command exits non-zero.
Also checks that the command refuses to run, without printing a result,
outside a graft checkout.

Run from the root of a graft checkout:  python3 perfbench/test_run.py
"""
import json
import os
import shutil
import subprocess
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import run  # noqa: E402


class InjectedFailure(unittest.TestCase):
    def test_failing_queries_are_counted_and_not_timed(self):
        p = subprocess.run(
            [sys.executable, os.path.join(HERE, "run.py"), "--workload", "registry_sf001",
             "--seed", "7", "--seconds", "1", "--trace", "0", "--inject-failure"],
            stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True, timeout=900)
        self.assertNotEqual(p.returncode, 0, "a failed query must fail the command")
        result = json.loads(p.stdout.strip().splitlines()[-1])
        self.assertFalse(result["correct"])
        self.assertEqual(result["failed"], 2)
        self.assertIn("q000_injected_throw threw", p.stderr)
        self.assertIn("q000_injected_wrong: rows differ", p.stderr)
        with open(os.path.join(run.BUILD, "last", "registry_sf001", "registry_samples.json")) as f:
            samples = json.load(f)
        self.assertEqual(result["attempted"], len(samples))
        self.assertFalse(samples["q000_injected_throw"]["ok"])
        self.assertFalse(samples["q000_injected_wrong"]["ok"])
        good = [s for name, s in samples.items() if not name.startswith("q000_")]
        self.assertTrue(all(s["ok"] for s in good))
        # the metrics are over the queries that ran right, and only those
        m = result["metrics"]
        self.assertAlmostEqual(m["wall_s"]["value"], sum(s["wall_s"] for s in good))
        self.assertAlmostEqual(m["cpu_s"]["value"], sum(s["cpu_s"] for s in good))
        self.assertAlmostEqual(m["shuffle_mb"]["value"], sum(s["shuffle_mb"] for s in good))

    def test_refuses_to_run_outside_a_checkout(self):
        os.makedirs(run.BUILD, exist_ok=True)
        d = tempfile.mkdtemp(dir=run.BUILD)
        try:
            shutil.copytree(HERE, os.path.join(d, "perfbench"),
                            ignore=shutil.ignore_patterns("target", "__pycache__"))
            shutil.copy(os.path.join(run.ROOT, "BENCHMARK.json"), d)
            p = subprocess.run(
                [sys.executable, "perfbench/run.py", "--workload", "ssp_dataflow",
                 "--seed", "1", "--seconds", "1", "--trace", "0"],
                cwd=d, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True, timeout=60)
            self.assertNotEqual(p.returncode, 0)
            self.assertEqual(p.stdout, "")
        finally:
            shutil.rmtree(d)


if __name__ == "__main__":
    unittest.main()
