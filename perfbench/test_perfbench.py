#!/usr/bin/env python3
"""The benchmark's own tests. For each workload, at tiny size:

- an untraced run passes every check and prints every end-to-end metric of
  BENCHMARK.json with its unit, plus the workload's named metrics with units
  and sample counts;
- a traced run prints every per-layer metric with its unit;
- after one recorded digest is tampered with, the run reports a failed
  operation and `"correct": false`.

Run from the repository root (takes a few minutes):

    python3 perfbench/test_perfbench.py
"""
import json
import os
import re
import subprocess
import sys
import tempfile
import unittest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    SPEC = json.load(f)

NAMED = {
    "extract_commit": ["setup_s", "extract_docs_per_s", "extract_scaling_1to4",
                       "extract_task_ms_p50", "extract_task_ms_tail", "commit_docs_per_s",
                       "commit_bytes_per_input_byte", "lookup_ms_p50", "lookup_ms_tail",
                       "heap_peak_mb"],
    "query_suite": ["setup_s", "query_suite_s", "query_ms_p50", "query_ms_tail", "heap_peak_mb"],
}


def run(workload, trace, *extra):
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "7",
         "--seconds", "3", "--size", "tiny", "--trace", str(trace), *extra],
        cwd=ROOT, capture_output=True, text=True, timeout=900)
    if p.returncode != 0:
        raise AssertionError(f"{workload} exited {p.returncode}:\n{p.stderr[-3000:]}")
    lines = p.stdout.strip().splitlines()
    return json.loads(lines[-1]), "\n".join(lines[:-1])


class TinyRuns(unittest.TestCase):
    def assert_metrics(self, result, wanted):
        self.assertEqual(set(result), {"correct", "attempted", "failed", "metrics"})
        self.assertEqual(set(result["metrics"]), {m["name"] for m in wanted})
        for m in wanted:
            got = result["metrics"][m["name"]]
            self.assertEqual(got["unit"], m["unit"], m["name"])
            self.assertIsInstance(got["value"], (int, float), m["name"])

    def check_workload(self, workload):
        os.makedirs(os.path.join(ROOT, ".bench_build"), exist_ok=True)
        with tempfile.TemporaryDirectory(dir=os.path.join(ROOT, ".bench_build")) as d:
            digests = os.path.join(d, "digests.json")
            result, report = run(workload, 0, "--digests", digests, "--record")
            self.assertTrue(result["correct"], report)
            self.assertGreaterEqual(result["attempted"], 1)
            self.assertEqual(result["failed"], 0)
            self.assert_metrics(result, SPEC["end_to_end"])
            for name in NAMED[workload] + ["failed_op_ratio"]:
                self.assertRegex(report, rf"(?m)^  {re.escape(name)} = \S+ \S+ \(.*n=\d+|"
                                         rf"^  {re.escape(name)} = \S+ \S+ \(failed=",
                                 f"{name} missing from the report")

            traced, report = run(workload, 1)
            self.assertTrue(traced["correct"], report)
            self.assert_metrics(traced, SPEC["per_layer"])

            with open(digests) as f:
                recorded = json.load(f)
            self.assertTrue(recorded, "the run recorded no digest")
            key = sorted(recorded)[0]
            recorded[key] = "0:0000000000000000"
            with open(digests, "w") as f:
                json.dump(recorded, f)
            tampered, report = run(workload, 0, "--digests", digests)
            self.assertFalse(tampered["correct"])
            self.assertGreaterEqual(tampered["failed"], 1)
            self.assertIn(key, report)

    def test_extract_commit(self):
        self.check_workload("extract_commit")

    def test_query_suite(self):
        self.check_workload("query_suite")


if __name__ == "__main__":
    unittest.main(verbosity=2)
