#!/usr/bin/env python3
"""Tests of the benchmark's own correctness checks.

Each workload runs at its tiny size, once on the program's unmodified
output (the checks must pass) and once per planted fault (the checks must
fail). A planted fault corrupts what the benchmark reads back from the
program — a fact row dropped or duplicated, a temperature rounded the wrong
way, a row moved to another month partition, an ingest stamp moved past the
write that holds its row, an /ann similarity off by one unit in the last
decimal, a wrong gateway aggregate, a suite output row lost, a suite query
that throws in the traced gateway run — so a check that cannot see the
fault fails its test.

Run from the repository root (takes several minutes; each case starts a JVM):

    python3 perfbench/test_checks.py
"""
import json
import os
import subprocess
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def run(workload, plant="", trace=0):
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload, "--seed", "7",
           "--seconds", "3", "--trace", str(trace), "--size", "tiny", "--plant", plant]
    p = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.PIPE, timeout=900)
    if p.returncode != 0:
        raise AssertionError(f"{workload}/{plant or 'clean'} exited {p.returncode}: "
                             f"{p.stderr.decode(errors='replace')[-2000:]}")
    return json.loads(p.stdout.decode().strip().splitlines()[-1]), p.stderr.decode(errors="replace")


class ChecksTest(unittest.TestCase):

    def assertCaught(self, workload, plant, expect, trace=0):
        result, err = run(workload, plant, trace)
        self.assertFalse(result["correct"], f"{workload}: planted {plant} went unnoticed")
        self.assertIn(expect, err, f"{workload}: planted {plant} failed for another reason:\n{err[-1500:]}")

    def test_ingest_clean(self):
        result, err = run("ingest")
        self.assertTrue(result["correct"], err[-1500:])
        self.assertEqual(result["failed"], 0)

    def test_ingest_dropped_row(self):
        self.assertCaught("ingest", "drop_row", "have no fact row")

    def test_ingest_duplicated_row(self):
        self.assertCaught("ingest", "dup_row", "more than one fact row")

    def test_ingest_temperature_rounding(self):
        self.assertCaught("ingest", "temp_round", "differs from the derivation")

    def test_ingest_wrong_month_partition(self):
        self.assertCaught("ingest", "wrong_month", "sits in month partition")

    def test_ingest_stamp_past_its_write(self):
        self.assertCaught("ingest", "stamp_late", "outside [due")

    def test_gateway_clean(self):
        result, err = run("gateway")
        self.assertTrue(result["correct"], err[-1500:])
        self.assertEqual(result["failed"], 0)

    def test_gateway_ann_similarity(self):
        self.assertCaught("gateway", "ann_sim", "are not the exact dots")

    def test_gateway_wrong_aggregate(self):
        self.assertCaught("gateway", "sql_agg", "differs from the readings")

    def test_gateway_traced_suite_query_failure(self):
        result, err = run("gateway", "suite_throw", trace=1)
        self.assertFalse(result["correct"], "a failing suite query went unnoticed")
        self.assertGreater(result["failed"], 0)
        self.assertIn("suite query failed", err)
        self.assertTrue(any(m["value"] is None for k, m in result["metrics"].items()
                            if k.startswith("suite.")), "a failed module must not read as a time")

    def test_suite_clean(self):
        result, err = run("suite")
        self.assertTrue(result["correct"], err[-1500:])
        self.assertEqual(result["failed"], 0)

    def test_suite_lost_output_row(self):
        self.assertCaught("suite", "suite_drop_row", "suite oracle check failed")


if __name__ == "__main__":
    unittest.main(verbosity=2)
