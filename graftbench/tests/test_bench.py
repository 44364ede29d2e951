#!/usr/bin/env python3
"""Self-tests of the benchmark (not part of the repo's sbt suite).

    python3 graftbench/tests/test_bench.py

Runs every workload at the tiny scale, checks that each run names every
metric of BENCHMARK.json with its unit, that a deliberately corrupted
output fails its check, and that the benchmark fails cleanly without the
engine's sources. Takes several minutes: each run starts a JVM and Spark.
"""
import json
import os
import shutil
import subprocess
import sys
import unittest

sys.dont_write_bytecode = True
HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
    SPEC = json.load(fh)
WORKLOADS = [w["name"] for w in SPEC["workloads"]]


def run(*args, cwd=ROOT):
    cmd = SPEC["command"] + list(args)
    p = subprocess.run(cmd, cwd=cwd, capture_output=True, text=True, timeout=900)
    lines = p.stdout.strip().splitlines()
    result = None
    if lines:
        try:
            result = json.loads(lines[-1])
        except ValueError:
            pass
    return p.returncode, result, p


def tiny(workload, trace=0, fault=0):
    return run("--workload", workload, "--seed", "5", "--seconds", "1",
               "--trace", str(trace), "--scale", "tiny", "--fault", str(fault))


class BenchTest(unittest.TestCase):

    def assert_metrics(self, result, spec_key):
        want = {m["name"]: m["unit"] for m in SPEC[spec_key]}
        got = {k: v["unit"] for k, v in result["metrics"].items()}
        self.assertEqual(want, got)
        for v in result["metrics"].values():
            self.assertIsInstance(v["value"], (int, float))

    def test_workloads_complete_untraced(self):
        for w in WORKLOADS:
            with self.subTest(workload=w):
                code, result, p = tiny(w)
                self.assertEqual(0, code, p.stderr[-3000:])
                self.assertEqual({"correct", "attempted", "failed", "metrics"}, set(result))
                self.assertTrue(result["correct"])
                self.assertEqual(0, result["failed"])
                self.assertGreaterEqual(result["attempted"], 1)
                self.assert_metrics(result, "end_to_end")
                for m in ("setup_s", "first_pass_s", "pass_s", "probe_p50_s"):
                    self.assertGreater(result["metrics"][m]["value"], 0, m)

    def test_traced_run_emits_per_layer_metrics(self):
        code, result, p = tiny("iterative_ops", trace=1)
        self.assertEqual(0, code, p.stderr[-3000:])
        self.assertTrue(result["correct"])
        self.assert_metrics(result, "per_layer")
        self.assertGreater(result["metrics"]["graph.pagerank_jobs"]["value"], 0)
        self.assertGreater(result["metrics"]["spark.jobs"]["value"], 0)
        spans = os.path.join(ROOT, ".bench_build", "traces", "iterative_ops-seed5.json")
        with open(spans) as fh:
            trace = json.load(fh)
        self.assertTrue(all(s["parent"].startswith("pass-") for s in trace["spans"]))
        self.assertTrue(any(s["jobs"] for s in trace["spans"]))

    def test_corrupted_output_fails_its_check(self):
        for w in WORKLOADS:
            with self.subTest(workload=w):
                code, result, p = tiny(w, fault=1)
                self.assertNotEqual(0, code)
                self.assertFalse(result["correct"])
                self.assertGreater(result["failed"], 0)

    def test_fails_without_engine_sources(self):
        bare = os.path.join(ROOT, ".bench_build", "bare-checkout")
        shutil.rmtree(bare, ignore_errors=True)
        os.makedirs(bare)
        try:
            shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
            for d in SPEC["paths"]:
                shutil.copytree(os.path.join(ROOT, d), os.path.join(bare, d),
                                ignore=shutil.ignore_patterns("__pycache__"))
            code, result, _ = run("--workload", WORKLOADS[0], "--seed", "1",
                                  "--seconds", "1", "--trace", "0", cwd=bare)
            self.assertNotEqual(0, code)
            self.assertIsNone(result)
        finally:
            shutil.rmtree(bare, ignore_errors=True)


if __name__ == "__main__":
    unittest.main()
