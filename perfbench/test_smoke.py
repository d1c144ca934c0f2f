#!/usr/bin/env python3
"""Smoke tests of the benchmark itself: every workload at smoke scale,
untraced and traced, must check correct and report every metric that
BENCHMARK.json names (the runner fails a traced run that misses one of the
per-layer metrics its workload must report); without the engine sources
the runner must fail.

    python3 perfbench/test_smoke.py          # from the checkout root
"""
import json
import shutil
import subprocess
import sys
import tempfile
import unittest
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
SPEC = json.loads((ROOT / "BENCHMARK.json").read_text())
WORKLOADS = [w["name"] for w in SPEC["workloads"]]


def run(cwd, *args):
    return subprocess.run(
        [sys.executable, "perfbench/run.py", *args], cwd=cwd,
        capture_output=True, text=True, timeout=600)


class Smoke(unittest.TestCase):
    def check(self, workload, trace):
        p = run(ROOT, "--workload", workload, "--seed", "7", "--seconds", "2",
                "--trace", str(trace), "--scale", "smoke")
        self.assertEqual(p.returncode, 0, p.stderr[-3000:])
        result = json.loads(p.stdout.strip().splitlines()[-1])
        self.assertEqual(set(result), {"correct", "attempted", "failed", "metrics"})
        self.assertTrue(result["correct"], p.stderr[-3000:])
        self.assertGreaterEqual(result["attempted"], 1)
        self.assertEqual(result["failed"], 0)
        wanted = SPEC["per_layer" if trace else "end_to_end"]
        self.assertEqual(set(result["metrics"]), {m["name"] for m in wanted})
        if not trace:
            for name, m in result["metrics"].items():
                self.assertGreater(m["value"], 0, name)

    def test_workloads(self):
        for w in WORKLOADS:
            for trace in (0, 1):
                with self.subTest(workload=w, trace=trace):
                    self.check(w, trace)

    def test_fails_without_engine_sources(self):
        with tempfile.TemporaryDirectory() as d:
            shutil.copy(ROOT / "BENCHMARK.json", d)
            shutil.copytree(ROOT / "perfbench", Path(d) / "perfbench",
                            ignore=shutil.ignore_patterns("target", "__pycache__"))
            p = run(d, "--workload", "etl_batch", "--seed", "1",
                    "--seconds", "1", "--trace", "0")
            self.assertNotEqual(p.returncode, 0)
            self.assertNotIn('"correct"', p.stdout)


if __name__ == "__main__":
    unittest.main()
