"""Self-test of the benchmark in its tiny mode (sf0.001 data, N = 1e4).

    python3 -m unittest perfbench/test_bench.py

For every workload it runs one untraced and one traced run and checks that
the result line parses, that every metric BENCHMARK.json names prints with
its unit, that no op failed and that every digest matched (a mismatch
counts as a failed op and makes `correct` false).
"""
import json
import os
import subprocess
import sys
import unittest

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)

with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    SPEC = json.load(f)


def run(workload, trace):
    out = subprocess.run(
        [sys.executable, os.path.join(BENCH, "run.py"), "--workload", workload,
         "--seed", "7", "--seconds", "2", "--trace", str(trace), "--tiny"],
        cwd=ROOT, capture_output=True, text=True, timeout=600)
    assert out.returncode == 0, out.stderr[-2000:]
    lines = out.stdout.splitlines()
    return lines, json.loads(lines[-1])


class TinyBenchmark(unittest.TestCase):

    def check(self, workload, trace, spec_key):
        lines, result = run(workload, trace)
        self.assertEqual(set(result),
                         {"correct", "attempted", "failed", "metrics"})
        errors = [l for l in lines if l.startswith("# error")]
        self.assertTrue(result["correct"], errors)
        self.assertEqual(result["failed"], 0, errors)
        self.assertGreaterEqual(result["attempted"], 1)
        ctx = next(l for l in lines if l.startswith("# context "))
        context = json.loads(ctx[len("# context "):])
        for key in ("nproc", "master", "xmx_mb", "jvm", "spark",
                    "load1_start", "load1_end", "seed"):
            self.assertIn(key, context)
        metrics = result["metrics"]
        self.assertEqual(set(metrics), {m["name"] for m in SPEC[spec_key]})
        for m in SPEC[spec_key]:
            self.assertEqual(metrics[m["name"]]["unit"], m["unit"], m["name"])
            self.assertIsInstance(metrics[m["name"]]["value"], (int, float))

    def test_workloads(self):
        for w in SPEC["workloads"]:
            with self.subTest(workload=w["name"], trace=0):
                self.check(w["name"], 0, "end_to_end")
            with self.subTest(workload=w["name"], trace=1):
                self.check(w["name"], 1, "per_layer")


if __name__ == "__main__":
    unittest.main()
