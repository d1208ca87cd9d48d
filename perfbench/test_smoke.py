#!/usr/bin/env python3
"""The benchmark's own test: every workload at smoke sizes (sf0.001
tables, a few thousand events, a handful of triggers), untraced and
traced. Asserts that every output check passes, that the last line
carries every metric of BENCHMARK.json with its unit, that the
workload's named metrics are printed with units, and that no record
line reaches 3 KB.

Run from the root of a checkout: python3 perfbench/test_smoke.py
"""
import json
import os
import subprocess
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
import run  # noqa: E402


def smoke(workload, trace):
    proc = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--smoke", "--workload", workload,
         "--seed", "7", "--seconds", "1", "--trace", str(trace)],
        cwd=ROOT, capture_output=True, text=True, timeout=900)
    if proc.returncode != 0:
        raise AssertionError(f"{workload} trace={trace} exited {proc.returncode}:\n"
                             f"{proc.stderr[-3000:]}")
    return [json.loads(line) for line in proc.stdout.strip().splitlines()], proc.stdout


class SmokeTest(unittest.TestCase):
    def test_workloads(self):
        bench = run.spec()
        for workload in run.WORKLOADS:
            for trace in (0, 1):
                with self.subTest(workload=workload, trace=trace):
                    records, raw = smoke(workload, trace)
                    last = records[-1]
                    self.assertEqual(set(last), {"correct", "attempted", "failed", "metrics"})
                    failures = [r for r in records if r.get("record") == "failure"]
                    self.assertTrue(last["correct"], failures)
                    self.assertEqual(last["failed"], 0)
                    self.assertGreaterEqual(last["attempted"], 1)
                    wanted = bench["per_layer" if trace else "end_to_end"]
                    self.assertEqual(set(last["metrics"]), {m["name"] for m in wanted})
                    for m in wanted:
                        got = last["metrics"][m["name"]]
                        self.assertEqual(got["unit"], m["unit"], m["name"])
                        self.assertIsInstance(got["value"], float, m["name"])
                    if not trace:
                        for m in wanted:
                            self.assertGreater(last["metrics"][m["name"]]["value"], 0, m["name"])
                    named = next(r for r in records if r.get("record") == "named")
                    for name, unit in run.NAMED_UNITS[workload].items():
                        self.assertEqual(named[name]["unit"], unit, name)
                        self.assertGreater(named[name]["value"], 0, name)
                    for line in raw.strip().splitlines()[:-1]:
                        self.assertLess(len(line.encode()), 3000, line[:80])
                    if workload == "operator_suite":
                        parts = [r for r in records if r.get("record") == "per_query_part"]
                        self.assertTrue(parts)


if __name__ == "__main__":
    unittest.main()
