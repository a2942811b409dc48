#!/usr/bin/env python3
"""The benchmark's own tests. Run from the repository root:

    python3 perfbench/test_perfbench.py

Builds the benchmark, runs graft.bench.SelfTest (name rules, percentile
rule, failed-operation accounting, result rendering, analytics family map
against SparkEntry.queries), checks the metric registry against
BENCHMARK.json, and checks the launcher's result digest."""
import json
import os
import re
import subprocess
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402
import run  # noqa: E402

ROOT = os.getcwd()
NAME = re.compile(r"[A-Za-z0-9_.-]+")


def build_dir():
    d = os.path.abspath(os.environ.get("CARGO_TARGET_DIR")
                        or os.path.join(ROOT, ".bench_build"))
    os.makedirs(d, exist_ok=True)
    return d


class PerfbenchTest(unittest.TestCase):
    @classmethod
    def setUpClass(cls):
        d = build.build(ROOT, build_dir())
        cls.cp = (os.path.join(d, "bench.jar") + os.pathsep +
                  os.path.join(build.spark_jars(), "*"))

    def selftest(self, *args):
        return subprocess.run(["java", "-XX:-UsePerfData", "-cp", self.cp,
                               "graft.bench.SelfTest",
                               *args], capture_output=True, text=True)

    def test_selftest(self):
        done = self.selftest()
        self.assertEqual(done.returncode, 0, done.stderr)

    def test_registry_matches_benchmark_json(self):
        done = self.selftest("--names")
        self.assertEqual(done.returncode, 0, done.stderr)
        names = json.loads(done.stdout)
        with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
            bench = json.load(f)
        self.assertEqual(sorted(w["name"] for w in bench["workloads"]),
                         sorted(names["workloads"]))
        for kind in ("end_to_end", "per_layer"):
            registry = {n: u for n, u in names[kind]}
            declared = {m["name"]: m["unit"] for m in bench[kind]}
            self.assertEqual(registry, declared, kind)
            for n in registry:
                self.assertTrue(NAME.fullmatch(n) and len(n) <= 64, n)
        bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
        self.assertEqual(max(bounds.values()), bounds["setup_s"])
        self.assertTrue(all(0 < b <= 0.25 for b in bounds.values()))

    def test_digest_ignores_row_and_column_order(self):
        import pandas as pd
        a = pd.DataFrame({"x": [1, 2, 3], "y": [0.1, 0.2, 0.30000001]})
        b = pd.DataFrame({"y": [0.30000002, 0.1, 0.2], "x": [3, 1, 2]})
        self.assertEqual(run.canon(a), run.canon(b))
        c = pd.DataFrame({"x": [1, 2, 4], "y": [0.1, 0.2, 0.3]})
        self.assertNotEqual(run.canon(a), run.canon(c))


if __name__ == "__main__":
    unittest.main()
