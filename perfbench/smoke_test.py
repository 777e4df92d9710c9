#!/usr/bin/env python3
"""Smoke test of the benchmark at a tiny size.

    python3 perfbench/smoke_test.py

Runs from the root of a checkout, through perfbench/run.py, and checks:
  - each listed workload prints every end-to-end metric of BENCHMARK.json
    with its unit, and reads correct with no failures;
  - a traced run of each listed workload prints every per-layer metric
    with its unit, and reads correct (for pipeline_daily this includes the
    check that its traced stages are Pipeline.run's);
  - a planted wrong expected row count is caught (failed > 0);
  - the same seed generates byte-identical inputs, another seed others.
Small inputs come from the sf0.001 test tables ($PERFBENCH_TINY_DATA).
"""

import json
import os
import subprocess
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
TINY_DATA = os.environ.get("PERFBENCH_TINY_DATA", os.path.join(os.path.expanduser("~"), "testdata", "sf0.001"))
with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    BENCH = json.load(f)


def run(*args):
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--size", "tiny", "--data", TINY_DATA,
           "--seconds", "1", *args]
    out = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL,
                         text=True, timeout=600)
    return out.returncode, out.stdout.strip().splitlines()


def result(*args):
    code, lines = run(*args)
    assert code == 0, f"run.py {args} exited {code}"
    return json.loads(lines[-1])


class SmokeTest(unittest.TestCase):

    def assert_metrics(self, res, declared):
        self.assertEqual(set(res), {"correct", "attempted", "failed", "metrics"})
        self.assertEqual(set(res["metrics"]), {m["name"] for m in declared})
        for m in declared:
            self.assertEqual(res["metrics"][m["name"]]["unit"], m["unit"], m["name"])
            self.assertIsInstance(res["metrics"][m["name"]]["value"], (int, float), m["name"])

    def test_every_workload_prints_every_end_to_end_metric(self):
        for w in BENCH["workloads"]:
            with self.subTest(workload=w["name"]):
                res = result("--workload", w["name"], "--seed", "1", "--trace", "0")
                self.assert_metrics(res, BENCH["end_to_end"])
                self.assertTrue(res["correct"])
                self.assertEqual(res["failed"], 0)
                self.assertGreater(res["attempted"], 0)
                for m in BENCH["end_to_end"]:
                    self.assertGreater(res["metrics"][m["name"]]["value"], 0, m["name"])

    def test_traced_run_prints_every_per_layer_metric(self):
        for w in BENCH["workloads"]:
            with self.subTest(workload=w["name"]):
                res = result("--workload", w["name"], "--seed", "1", "--trace", "1")
                self.assert_metrics(res, BENCH["per_layer"])
                self.assertTrue(res["correct"])
                self.assertEqual(res["failed"], 0)

    def test_planted_wrong_count_is_caught(self):
        res = result("--workload", "pipeline_daily", "--seed", "1", "--trace", "0",
                     "--plant-wrong-count")
        self.assertFalse(res["correct"])
        self.assertGreater(res["failed"], 0)

    def test_same_seed_same_inputs(self):
        def digest(seed):
            code, lines = run("--workload", "pipeline_daily", "--seed", str(seed), "--inputs-digest")
            self.assertEqual(code, 0)
            return [l for l in lines if l.startswith("inputs_digest ")][-1]
        first = digest(7)
        self.assertEqual(first, digest(7))
        self.assertNotEqual(first, digest(8))


if __name__ == "__main__":
    unittest.main()
