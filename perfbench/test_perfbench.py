#!/usr/bin/env python3
"""The benchmark's own tests. Run from the repository root:

    python3 perfbench/test_perfbench.py

- perfbench.SelfTest: the benchmark's EP1 composition equals Ep1.analyze,
  corrupted outputs fail the checks, and a 10x inflated log gives 10x the
  batch instances and WT sums;
- every metric name the artifact prints is declared in BENCHMARK.json;
- without the engine sources the benchmark exits non-zero, prints no
  result and names the missing sources.
"""
import json
import os
import shutil
import subprocess
import sys
import unittest

import build
import run

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)


class PerfbenchTest(unittest.TestCase):
    @classmethod
    def setUpClass(cls):
        classpath = build.build()
        work = run.fresh_dir(os.path.join(BENCH, "work", "selftest"))
        cls.proc = subprocess.run(run.java(classpath, "perfbench.SelfTest", ["--work", work], work),
                                  cwd=work, stdout=subprocess.PIPE, stderr=subprocess.PIPE,
                                  text=True, timeout=600)
        cls.lines = cls.proc.stdout.splitlines()

    def test_self_checks(self):
        failed = [l for l in self.lines if l.startswith("FAIL")]
        self.assertEqual(failed, [], self.proc.stdout + self.proc.stderr[-4000:])
        self.assertEqual(self.proc.returncode, 0, self.proc.stderr[-4000:])
        self.assertGreaterEqual(len([l for l in self.lines if l.startswith("ok ")]), 9)

    def test_metric_names_declared(self):
        with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
            spec = json.load(f)
        printed = {l.split()[1] for l in self.lines if l.startswith("metric ")}
        declared = {m["name"] for m in spec["end_to_end"] + spec["per_layer"]}
        self.assertTrue(printed, "SelfTest printed no metric names")
        self.assertEqual(printed - declared, set(), "printed but not declared")
        self.assertEqual(declared - printed, set(), "declared but never printed")
        self.assertEqual(set(run.WORKLOADS), {w["name"] for w in spec["workloads"]})

    def test_fails_without_engine_sources(self):
        bare = os.path.join(BENCH, "work", "bare")
        shutil.rmtree(bare, ignore_errors=True)
        os.makedirs(bare)
        # build.sbt names the Spark jars, so the run gets as far as the
        # missing engine sources
        for f in ("BENCHMARK.json", "build.sbt"):
            shutil.copy(os.path.join(ROOT, f), bare)
        shutil.copytree(BENCH, os.path.join(bare, "perfbench"),
                        ignore=shutil.ignore_patterns("work", "target", "__pycache__"))
        p = subprocess.run([sys.executable, "perfbench/run.py", "--workload", run.WORKLOADS[0],
                            "--seed", "1", "--seconds", "1", "--trace", "0"],
                           cwd=bare, stdout=subprocess.PIPE, stderr=subprocess.PIPE,
                           text=True, timeout=180)
        shutil.rmtree(bare, ignore_errors=True)
        self.assertNotEqual(p.returncode, 0)
        self.assertEqual(p.stdout.strip(), "")
        self.assertIn("engine sources not found", p.stderr)


if __name__ == "__main__":
    unittest.main()
