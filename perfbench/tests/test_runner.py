"""Self-test of the benchmark runner at sf0.001.

Checks, for each workload, that an untraced run emits every end-to-end
metric of BENCHMARK.json with its unit and passes its output checks, and
that a traced run with a deliberately corrupted output emits every
per-layer metric and reports the damage in `error_rate`.

    python3 -m unittest discover -s perfbench/tests

Each run starts a JVM; the whole test takes a few minutes.
"""
import json
import os
import subprocess
import sys
import unittest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
SPEC = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))


def run(workload, trace, corrupt=False):
    cmd = [sys.executable, os.path.join(ROOT, "perfbench", "run.py"),
           "--workload", workload, "--seed", "7", "--seconds", "1",
           "--trace", str(trace), "--sf", "0.001"]
    if corrupt:
        cmd.append("--corrupt")
    p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True,
                       timeout=600)
    if p.returncode != 0:
        raise AssertionError(f"{cmd} failed:\n{p.stderr[-3000:]}")
    lines = p.stdout.strip().splitlines()
    return json.loads(lines[-2])["perfbench_run"], json.loads(lines[-1])


class RunnerTest(unittest.TestCase):
    def assert_metrics(self, result, kind):
        self.assertEqual(set(result),
                         {"correct", "attempted", "failed", "metrics"})
        self.assertGreaterEqual(result["attempted"], 1)
        got = result["metrics"]
        self.assertEqual(set(got), {m["name"] for m in SPEC[kind]})
        for m in SPEC[kind]:
            self.assertEqual(got[m["name"]]["unit"], m["unit"], m["name"])
            self.assertIsInstance(got[m["name"]]["value"], float, m["name"])

    def test_workloads(self):
        for w in (w["name"] for w in SPEC["workloads"]):
            with self.subTest(workload=w):
                record, clean = run(w, trace=0)
                self.assert_metrics(clean, "end_to_end")
                self.assertTrue(clean["correct"], record["failures"])
                self.assertEqual(clean["failed"], 0)
                self.assertEqual(record["seed"], 7)
                for m in SPEC["end_to_end"]:
                    self.assertGreater(clean["metrics"][m["name"]]["value"], 0,
                                       m["name"])

                record, damaged = run(w, trace=1, corrupt=True)
                self.assert_metrics(damaged, "per_layer")
                self.assertFalse(damaged["correct"])
                self.assertGreater(damaged["failed"], 0)
                self.assertGreater(
                    damaged["metrics"]["error_rate"]["value"], 0)
                self.assertTrue(record["failures"])


if __name__ == "__main__":
    unittest.main()
