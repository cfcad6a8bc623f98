#!/usr/bin/env python3
"""Self-test of the benchmark. Run from the root of a checkout:

    python3 perfbench/tests/test_benchmark.py

Runs every workload at minimum size, untraced and traced, and asserts that
each metric of BENCHMARK.json is emitted with its unit and that the output
checks pass. The negative control runs census_backlog through a sink that
drops one raw row per batch: the checks must catch it.
"""
import json
import os
import subprocess
import sys
import unittest

ROOT = os.getcwd()
RUN = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "run.py")
WORKLOADS = ("census_backlog", "census_live", "dashboard_history")

with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    SPEC = json.load(f)


def bench(workload, trace, *extra):
    out = subprocess.run([sys.executable, RUN, "--workload", workload, "--seed", "3",
                          "--seconds", "2", "--trace", str(trace), "--small", *extra],
                         cwd=ROOT, stdout=subprocess.PIPE, text=True, timeout=600)
    assert out.returncode == 0, out.stdout[-2000:]
    return json.loads(out.stdout.strip().splitlines()[-1])


class BenchmarkSelfTest(unittest.TestCase):

    def assert_metrics(self, result, declared):
        self.assertEqual(set(result), {"correct", "attempted", "failed", "metrics"})
        self.assertEqual(set(result["metrics"]), {m["name"] for m in declared})
        for m in declared:
            got = result["metrics"][m["name"]]
            self.assertEqual(got["unit"], m["unit"], m["name"])
            self.assertIsInstance(got["value"], (int, float), m["name"])

    def test_every_workload_emits_every_metric(self):
        for w in WORKLOADS:
            for trace, key in ((0, "end_to_end"), (1, "per_layer")):
                with self.subTest(workload=w, trace=trace):
                    r = bench(w, trace)
                    self.assert_metrics(r, SPEC[key])
                    self.assertTrue(r["correct"], r)
                    self.assertEqual(r["failed"], 0)
                    self.assertGreater(r["attempted"], 0)
                    if trace == 0:
                        for m in SPEC["end_to_end"]:
                            self.assertGreater(r["metrics"][m["name"]]["value"], 0, m["name"])
                    elif w.startswith("census_"):
                        self.assertGreater(r["metrics"]["spark.jobs_per_batch"]["value"], 0)

    def test_dropped_row_fails_the_checks(self):
        r = bench("census_backlog", 0, "--fault", "drop-row")
        self.assertFalse(r["correct"])
        self.assertGreater(r["failed"], 0)
        self.assertGreater(r["failed"] / r["attempted"], 0)


if __name__ == "__main__":
    unittest.main()
