#!/usr/bin/env python3
"""Smoke test of the benchmark harness on sf0.001-sized inputs.

    python3 perfbench/test/smoke_test.py

Checks BENCHMARK.json against the benchmark contract, then runs the harness
three times with tiny inputs and a one-second window: every printed metric
name is valid and declared, the traced layer self times sum to the traced
span total, and a planted wrong output raises failed_frac. Takes about two
minutes once the harness is built.
"""
import json
import os
import re
import subprocess
import sys
import unittest

BENCH = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ROOT = os.path.dirname(BENCH)
NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")
SELF_LAYERS = ["executor.self_ms", "scheduler.self_ms", "catalyst.self_ms",
               "operators.self_ms", "driver.gap_ms"]


def spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def run(workload, trace, *extra):
    out = subprocess.run(
        [sys.executable, os.path.join(BENCH, "run.py"), "--workload",
         workload, "--seed", "7", "--seconds", "1", "--trace", str(trace),
         "--tiny", *extra],
        cwd=ROOT, capture_output=True, text=True, timeout=900)
    assert out.returncode == 0, out.stderr[-3000:]
    lines = out.stdout.strip().splitlines()
    return json.loads(lines[-2]), json.loads(lines[-1])


class Contract(unittest.TestCase):
    def test_benchmark_json(self):
        s = spec()
        self.assertEqual(set(s), {"command", "paths", "run_seconds",
                                  "workloads", "end_to_end", "per_layer"})
        self.assertTrue(2 <= len(s["workloads"]) <= 8)
        self.assertTrue(1 <= s["run_seconds"] <= 60)
        names = [w["name"] for w in s["workloads"]] + [
            m["name"] for m in s["end_to_end"] + s["per_layer"]]
        self.assertEqual(len(names), len(set(names)))
        for n in names:
            self.assertRegex(n, NAME)
        for w in s["workloads"]:
            self.assertEqual(set(w), {"name", "why"})
            self.assertLessEqual(len(w["why"]), 200)
        for m in s["end_to_end"]:
            self.assertEqual(set(m), {"name", "unit", "better", "bound"})
            self.assertLessEqual(m["bound"], 0.25)
        for m in s["per_layer"]:
            self.assertEqual(set(m), {"name", "unit", "better"})
        for m in s["end_to_end"] + s["per_layer"]:
            self.assertRegex(m["unit"], UNIT)
            self.assertIn(m["better"], ("lower", "higher"))
        setup = [m for m in s["end_to_end"] if m["name"] == "setup_s"]
        self.assertEqual(len(setup), 1)
        self.assertEqual((setup[0]["unit"], setup[0]["better"]),
                         ("s", "lower"))
        self.assertEqual(setup[0]["bound"],
                         max(m["bound"] for m in s["end_to_end"]))


class Harness(unittest.TestCase):
    def check_metrics(self, result, declared):
        self.assertEqual(set(result),
                         {"correct", "attempted", "failed", "metrics"})
        self.assertEqual(list(result["metrics"]),
                         [m["name"] for m in declared])
        for name, m in result["metrics"].items():
            self.assertRegex(name, NAME)
            self.assertIsInstance(m["value"], (int, float))

    def test_untraced_run_prints_end_to_end_metrics(self):
        info, result = run("curate", 0)
        self.check_metrics(result, spec()["end_to_end"])
        self.assertTrue(result["correct"], info)
        self.assertEqual(result["failed"], 0)
        self.assertEqual(info["hash_mode"], "md5")

    def test_traced_self_times_sum_to_span_total(self):
        info, result = run("kmeans_bulk", 1)
        self.check_metrics(result, spec()["per_layer"])
        self.assertTrue(result["correct"], info)
        m = {k: v["value"] for k, v in result["metrics"].items()}
        self.assertGreater(m["trace.span_ms"], 0)
        self.assertAlmostEqual(sum(m[k] for k in SELF_LAYERS),
                               m["trace.span_ms"], delta=1e-6)

    def test_planted_wrong_output_raises_failed_frac(self):
        info, result = run("curate", 0, "--plant-wrong", "dedup_exact")
        self.assertFalse(result["correct"])
        self.assertIn("dedup_exact", info["wrong_outputs"])
        self.assertGreater(info["failed_frac"], 0)
        self.assertAlmostEqual(result["failed"], info["failed_frac"]
                               * result["attempted"])


if __name__ == "__main__":
    unittest.main()
