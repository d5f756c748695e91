"""Smoke-size runs of every workload: every named metric prints, the
outputs check clean, and a planted wrong output row counts as a failed
operation.

Run from the repository root:

    python3 -m unittest discover -s perfbench/tests -v
"""
import json
import math
import os
import subprocess
import sys
import unittest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as fh:
    BENCH = json.load(fh)
WORKLOADS = [w["name"] for w in BENCH["workloads"]]


def run(workload, trace, plant=False, seed=7):
    cmd = [sys.executable, os.path.join("perfbench", "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", "2", "--trace", str(trace), "--size", "smoke"]
    if plant:
        cmd.append("--plant-wrong-row")
    p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, encoding="utf-8",
                       timeout=600)
    assert p.returncode == 0, p.stderr[-3000:]
    return json.loads(p.stdout.strip().splitlines()[-1])


class Smoke(unittest.TestCase):

    def check_metrics(self, result, declared):
        self.assertEqual(set(result), {"correct", "attempted", "failed", "metrics"})
        self.assertEqual(set(result["metrics"]), {m["name"] for m in declared})
        for m in declared:
            got = result["metrics"][m["name"]]
            self.assertEqual(got["unit"], m["unit"])
            self.assertTrue(math.isfinite(got["value"]), m["name"])

    def test_end_to_end_metrics(self):
        for w in WORKLOADS:
            with self.subTest(workload=w):
                r = run(w, trace=0)
                self.check_metrics(r, BENCH["end_to_end"])
                self.assertTrue(r["correct"])
                self.assertEqual(r["failed"], 0)
                self.assertGreaterEqual(r["attempted"], 2)
                for m in BENCH["end_to_end"]:
                    self.assertGreater(r["metrics"][m["name"]]["value"], 0, m["name"])

    def test_per_layer_metrics_and_trace_files(self):
        for w in WORKLOADS:
            with self.subTest(workload=w):
                r = run(w, trace=1)
                self.check_metrics(r, BENCH["per_layer"])
                self.assertTrue(r["correct"])
                trace = os.path.join(ROOT, "perfbench", ".work", "runs",
                                     f"{w}-smoke-s7-t1", "trace")
                for f in ["spans.jsonl", "self_time.tsv", "layers.json"]:
                    self.assertTrue(os.path.getsize(os.path.join(trace, f)) > 0, f)

    def test_planted_row_is_a_failed_operation(self):
        r = run("extract_html_skew", trace=0, plant=True)
        self.assertFalse(r["correct"])
        self.assertEqual(r["failed"], 1)

    def test_planted_rows_fail_extraction_and_catalog_checks(self):
        # one extraction call's output and one catalog query's output
        r = run("extract_bulk", trace=1, plant=True)
        self.assertFalse(r["correct"])
        self.assertEqual(r["failed"], 2)


if __name__ == "__main__":
    unittest.main()
