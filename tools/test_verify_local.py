"""Tests for tools/verify_local.py, the local DuckDB differential.

Run from the root of a checkout: python3 -m unittest tools/test_verify_local.py
"""
import json
import os
import subprocess
import sys
import tempfile
import unittest

import duckdb

SCRIPT = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                      "verify_local.py")


class VerifyLocalTest(unittest.TestCase):

    def run_verify(self, oracles, dumps, only=None):
        """Write oracle_sql.json and one Spark-style dump directory per
        (name, SQL producing its rows); run the script on them, with
        SPARK_GRAFT_VERIFY_ONLY set to `only` when given."""
        with tempfile.TemporaryDirectory() as tmp:
            sf_dir = os.path.join(tmp, "sf")
            out_dir = os.path.join(tmp, "out")
            os.makedirs(sf_dir)
            os.makedirs(out_dir)
            with open(os.path.join(out_dir, "oracle_sql.json"), "w") as f:
                json.dump(oracles, f)
            for name, sql in dumps.items():
                os.makedirs(os.path.join(out_dir, name))
                part = os.path.join(out_dir, name, "part-00000.parquet")
                duckdb.sql(f"COPY ({sql}) TO '{part}' (FORMAT PARQUET)")
            env = dict(os.environ)
            env.pop("SPARK_GRAFT_VERIFY_ONLY", None)
            if only is not None:
                env["SPARK_GRAFT_VERIFY_ONLY"] = only
            return subprocess.run([sys.executable, SCRIPT, sf_dir, out_dir],
                                  capture_output=True, text=True, env=env)

    def test_all_dumped_and_matching_passes(self):
        p = self.run_verify(
            {"q_a": "SELECT 1 AS x", "q_b": "SELECT 2 AS x"},
            {"q_a": "SELECT 1 AS x", "q_b": "SELECT 2 AS x"})
        self.assertEqual(p.returncode, 0, p.stdout)
        self.assertIn("2/2 queries match", p.stdout)

    def test_oracle_without_dump_fails(self):
        # q_b's Spark side threw, so it wrote no dump directory.
        p = self.run_verify(
            {"q_a": "SELECT 1 AS x", "q_b": "SELECT 2 AS x"},
            {"q_a": "SELECT 1 AS x"})
        self.assertEqual(p.returncode, 1, p.stdout)
        self.assertIn("PASS q_a:", p.stdout)
        self.assertIn("FAIL q_b: MISSING-SPARK-OUTPUT", p.stdout)
        self.assertIn("1/2 queries match", p.stdout)

    def test_only_checks_the_named_oracles(self):
        # q_b was not dumped because the run named q_a and q_c only;
        # q_c was named but its Spark side threw.
        oracles = {"q_a": "SELECT 1 AS x", "q_b": "SELECT 2 AS x",
                   "q_c": "SELECT 3 AS x"}
        p = self.run_verify(oracles, {"q_a": "SELECT 1 AS x"},
                            only="q_a, q_c")
        self.assertEqual(p.returncode, 1, p.stdout)
        self.assertIn("PASS q_a:", p.stdout)
        self.assertNotIn("q_b", p.stdout)
        self.assertIn("FAIL q_c: MISSING-SPARK-OUTPUT", p.stdout)
        self.assertIn("1/2 queries match", p.stdout)


if __name__ == "__main__":
    unittest.main()
