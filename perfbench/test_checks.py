#!/usr/bin/env python3
"""Tests of the benchmark's own correctness checks: each is fed a doctored
output and must fail it, and must pass the true one.

Run from the root of a checkout: python3 perfbench/test_checks.py
(builds first if needed, like run.py).
"""
import os
import subprocess
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import run  # noqa: E402


def load_canon():
    import importlib.util
    spec = importlib.util.spec_from_file_location(
        "check_oracle", os.path.join(run.ROOT, "scripts", "check_oracle.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod.canon


class CdcChecks(unittest.TestCase):
    def test_checks_catch_doctored_tables(self):
        """Dropped event, id committed twice, bonus cent off, stale version."""
        p = subprocess.run(["java", "-cp", run.classpath(), "graft.perfbench.SelfTest"],
                           capture_output=True, text=True, timeout=120)
        sys.stdout.write(p.stdout)
        self.assertEqual(p.returncode, 0, p.stdout + p.stderr[-2000:])


class OracleCompare(unittest.TestCase):
    def setUp(self):
        import pandas as pd
        self.pd = pd
        self.canon = load_canon()
        self.truth = pd.DataFrame({"k": [1, 2, 3], "v": [0.5, 1.25, 2.0], "s": ["a", "b", "c"]})

    def test_true_result_passes_in_any_row_order(self):
        got = self.truth.iloc[::-1].reset_index(drop=True)
        self.assertEqual(run.compare("q", got, self.truth, self.canon), [])

    def test_one_changed_row_fails(self):
        got = self.truth.copy()
        got.loc[1, "v"] = 1.2500001
        self.assertNotEqual(run.compare("q", got, self.truth, self.canon), [])

    def test_one_missing_row_fails(self):
        got = self.truth.iloc[:2]
        self.assertNotEqual(run.compare("q", got, self.truth, self.canon), [])

    def test_results_without_oracle_sql_fail(self):
        import tempfile
        with tempfile.TemporaryDirectory(dir=run.ROOT) as d:
            self.assertNotEqual(run.oracle_problems(d, d), [])


if __name__ == "__main__":
    unittest.main()
