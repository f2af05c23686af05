#!/usr/bin/env python3
"""Smoke test of the benchmark at tiny scale (a few minutes in all).

    python3 -m unittest discover -s perfbench/tests

Each workload named in BENCHMARK.json runs once untraced and once traced
with the same seed: both must pass their output checks, print exactly the
metric names BENCHMARK.json declares, and print the same input fingerprint.
A copy holding only BENCHMARK.json and the benchmark's own files must fail
without printing a result.
"""
import json
import os
import re
import shutil
import subprocess
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
SPEC = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))


def run(root, workload, trace, seed=1):
    cmd = [sys.executable, os.path.join(root, "perfbench", "run.py"),
           "--workload", workload, "--seed", str(seed), "--seconds", "2",
           "--trace", str(trace), "--scale", "tiny"]
    return subprocess.run(cmd, cwd=root, capture_output=True, text=True, timeout=600)


class Smoke(unittest.TestCase):
    def check_run(self, workload, trace):
        r = run(ROOT, workload, trace)
        self.assertEqual(r.returncode, 0, r.stdout[-2000:] + r.stderr[-2000:])
        result = json.loads(r.stdout.strip().splitlines()[-1])
        self.assertEqual(set(result), {"correct", "attempted", "failed", "metrics"})
        self.assertTrue(result["correct"])
        self.assertGreaterEqual(result["attempted"], 1)
        self.assertEqual(result["failed"], 0)
        declared = SPEC["per_layer" if trace else "end_to_end"]
        self.assertEqual(set(result["metrics"]), {m["name"] for m in declared})
        for m in declared:
            self.assertEqual(result["metrics"][m["name"]]["unit"], m["unit"], m["name"])
        if not trace:
            for name, v in result["metrics"].items():
                self.assertGreater(v["value"], 0, name)
        return re.search(r"^input fingerprint (\S+)$", r.stdout, re.M).group(1)

    def test_workloads(self):
        for w in SPEC["workloads"]:
            with self.subTest(workload=w["name"]):
                untraced = self.check_run(w["name"], 0)
                traced = self.check_run(w["name"], 1)
                self.assertEqual(untraced, traced, "same seed, different inputs")

    def test_fails_without_the_library(self):
        bare = os.path.join(ROOT, ".bench_build", "bare-checkout")
        shutil.rmtree(bare, ignore_errors=True)
        os.makedirs(bare)
        try:
            shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
            for p in SPEC["paths"]:
                shutil.copytree(os.path.join(ROOT, p), os.path.join(bare, p),
                                ignore=shutil.ignore_patterns("__pycache__"))
            r = run(bare, SPEC["workloads"][0]["name"], 0)
            self.assertNotEqual(r.returncode, 0)
            self.assertNotIn('"metrics"', r.stdout)
        finally:
            shutil.rmtree(bare, ignore_errors=True)


if __name__ == "__main__":
    unittest.main()
