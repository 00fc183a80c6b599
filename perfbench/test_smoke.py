#!/usr/bin/env python3
"""Smoke test of the benchmark at tiny sizes (a few minutes):

    python3 perfbench/test_smoke.py

For every workload: an untraced run prints every end-to-end metric of
BENCHMARK.json with its unit, a traced run prints every per-layer metric
with its unit, and a run with one corrupted answer reports it as a failure.
"""
import json
import os
import subprocess
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SPEC = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))


def run(workload, *extra):
    p = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
                        "--seed", "5", "--seconds", "2", "--tiny", *extra],
                       cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL,
                       text=True, timeout=900)
    assert p.returncode == 0, p.stdout
    lines = p.stdout.strip().split("\n")
    return lines, json.loads(lines[-1])


class Smoke(unittest.TestCase):
    def check_metrics(self, workload, trace, wanted):
        lines, res = run(workload, "--trace", str(trace))
        self.assertTrue(res["correct"], "\n".join(l for l in lines if l.startswith("note")))
        self.assertEqual(res["failed"], 0)
        self.assertGreaterEqual(res["attempted"], 1)
        self.assertEqual(set(res["metrics"]), {m["name"] for m in wanted})
        kind = "layer" if trace else "metric"
        for m in wanted:
            got = res["metrics"][m["name"]]
            self.assertEqual(got["unit"], m["unit"], m["name"])
            self.assertIsInstance(got["value"], (int, float), m["name"])
            self.assertTrue(any(l.startswith(f"{kind} {workload} {m['name']} ")
                                and l.endswith(" " + m["unit"]) for l in lines), m["name"])
            if not trace:
                self.assertGreater(got["value"], 0, m["name"])

    def test_end_to_end_metrics(self):
        for w in SPEC["workloads"]:
            with self.subTest(workload=w["name"]):
                self.check_metrics(w["name"], 0, SPEC["end_to_end"])

    def test_per_layer_metrics(self):
        for w in SPEC["workloads"]:
            with self.subTest(workload=w["name"]):
                self.check_metrics(w["name"], 1, SPEC["per_layer"])

    def test_corrupted_answer_is_a_failure(self):
        for w in SPEC["workloads"]:
            with self.subTest(workload=w["name"]):
                lines, res = run(w["name"], "--trace", "0", "--corrupt")
                self.assertFalse(res["correct"])
                self.assertGreaterEqual(res["failed"], 1)
                self.assertTrue(any(l.startswith(f"note {w['name']} MISMATCH") for l in lines))


if __name__ == "__main__":
    unittest.main(verbosity=2)
