#!/usr/bin/env python3
"""Tests of the benchmark itself: seeded inputs and failure counting.

    python3 perfbench/test_perfbench.py

Each test starts the benchmark's JVM through run.py, so the first one may
include the build.
"""
import json
import os
import subprocess
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def run_bench(*args):
    p = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), *args],
                       cwd=ROOT, capture_output=True, text=True, timeout=900)
    lines = p.stdout.strip().splitlines()
    return p.returncode, json.loads(lines[-1]) if lines else None


class SeededInputs(unittest.TestCase):
    def test_same_seed_same_digests_and_another_seed_changes_them(self):
        rc7, a = run_bench("--selftest", "digests", "--seed", "7")
        _, b = run_bench("--selftest", "digests", "--seed", "7")
        _, c = run_bench("--selftest", "digests", "--seed", "8")
        self.assertEqual(rc7, 0)
        self.assertEqual(a, b)
        self.assertEqual(set(a), {"snapshot_query", "rpl_ingest", "gates"})
        for w in ("snapshot_query", "rpl_ingest"):
            self.assertNotEqual(a[w], c[w], w)
        # the gate tables are committed data: no seed changes them
        self.assertEqual(a["gates"], c["gates"])


class FailureCounting(unittest.TestCase):
    def test_throwing_and_wrong_ops_fail_the_run(self):
        # one op passes, one throws, one returns a wrong answer; they run
        # once warm and once timed, and the final check passes
        rc, res = run_bench("--selftest", "failing")
        self.assertNotEqual(rc, 0)
        self.assertEqual(res["attempted"], 7)
        self.assertEqual(res["failed"], 4)
        self.assertFalse(res["correct"])


if __name__ == "__main__":
    unittest.main()
