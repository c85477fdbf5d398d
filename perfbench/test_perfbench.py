#!/usr/bin/env python3
"""The benchmark's own tests.

Usage (from the root of a checkout): python3 perfbench/test_perfbench.py

- BENCHMARK.json and the metric catalogue of the benchmark code agree, and
  every metric name matches [A-Za-z0-9_.-]+;
- the JVM self test (perfbench.SelfTest): span self-time arithmetic on a
  hand-built span tree, and for every workload (inputs shrunk) the same
  seed gives identical inputs and op outputs that pass their checks;
- the oracle normalisation is order-free and float-tolerant.
Takes a few minutes: the self test crawls and runs the query mix.
"""
import json
import os
import re
import shutil
import subprocess
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import run  # noqa: E402

NAME = re.compile(r"[A-Za-z0-9_.-]+")


class PerfbenchTest(unittest.TestCase):
    @classmethod
    def setUpClass(cls):
        jars = run.spark_jars()
        classes = run.build(jars)
        cls.work = os.path.join(run.BUILD, "selftest")
        shutil.rmtree(cls.work, ignore_errors=True)
        os.makedirs(cls.work)
        cp = os.pathsep.join([classes] + jars)
        cls.proc = subprocess.run(
            ["java", "-XX:-UsePerfData", "-Xmx2g", "-Xss8m", f"-Djava.io.tmpdir={cls.work}"] + run.ADD_OPENS +
            ["-cp", cp, "perfbench.SelfTest", "--work", cls.work],
            cwd=cls.work, capture_output=True, text=True, timeout=900)
        lines = cls.proc.stdout.strip().splitlines()
        cls.report = json.loads(lines[-1]) if lines else None

    @classmethod
    def tearDownClass(cls):
        shutil.rmtree(cls.work, ignore_errors=True)

    def test_self_test_passes(self):
        self.assertIsNotNone(self.report, self.proc.stderr[-3000:])
        self.assertEqual(self.report["errors"], [])
        self.assertTrue(self.report["ok"])
        self.assertEqual(self.proc.returncode, 0)

    def test_benchmark_json_matches_catalogue(self):
        with open(os.path.join(run.ROOT, "BENCHMARK.json")) as f:
            bench = json.load(f)
        catalogue = self.report["metrics"]
        for m in bench["end_to_end"] + bench["per_layer"]:
            self.assertRegex(m["name"], NAME)
            self.assertEqual(catalogue.get(m["name"]), m["unit"], m["name"])
        names = [m["name"] for m in bench["end_to_end"] + bench["per_layer"]]
        self.assertEqual(sorted(names), sorted(catalogue))
        self.assertEqual(len(names), len(set(names)))
        for w in bench["workloads"]:
            self.assertIn(w["name"], run.WORKLOADS)

    def test_norm_is_order_free_and_float_tolerant(self):
        self.assertEqual(run.norm((1, 0.1234561, [2.0, -0.000001])), (1, 0.12346, (2.0, 0.0)))
        self.assertEqual(run.norm({"b": 1.0, "a": 2}), (("a", 2), ("b", 1.0)))


if __name__ == "__main__":
    unittest.main()
