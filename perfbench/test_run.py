"""Tests of the benchmark's own logic: python3 -m unittest perfbench/test_run.py
(from the root of a checkout)."""
import json
import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import run  # noqa: E402

SPEC = os.path.join(os.path.dirname(run.BENCH), "BENCHMARK.json")


def query(cold, warm, heap=100.0, oracle=True, fps=((5, "ab"),)):
    return {"cold_s": cold, "warm_s": warm, "untraced_s": [], "heap_mb": heap,
            "oracle": oracle, "fingerprints": [list(f) for f in fps]}


class EndToEnd(unittest.TestCase):
    def test_median_and_sum(self):
        qs = {"a": query(2.0, [1.0, 9.0, 2.0], heap=300.0),
              "b": query(1.5, [0.5, 0.25, 0.75, 1.0], heap=200.0)}
        m = run.end_to_end([7.0, 5.0, 6.0], qs)
        self.assertEqual(m["setup_s"], 6.0)
        self.assertEqual(m["cold_s"], 3.5)
        self.assertEqual(m["warm_s"], 2.0 + 0.625)
        self.assertEqual(m["live_heap_mb"], 300.0)

    def test_names_match_spec(self):
        with open(SPEC) as f:
            spec = json.load(f)
        m = run.end_to_end([1.0], {"a": query(1.0, [1.0])})
        self.assertEqual(sorted(m), sorted(e["name"] for e in spec["end_to_end"]))
        self.assertEqual(sorted(run.WORKLOADS),
                         sorted(w["name"] for w in spec["workloads"]))


class OutputCheck(unittest.TestCase):
    def test_oracle_queries_match_committed_values(self):
        exp = {"a": {"rows": 5, "hash": "ab"}}
        self.assertEqual(run.check({"a": query(1, [1])}, exp)[:2], (1, 0))
        bad = query(1, [1], fps=((5, "cd"),))
        self.assertEqual(run.check({"a": bad}, exp)[:2], (1, 1))
        self.assertEqual(run.check({"a": query(1, [1])}, {})[:2], (1, 1))

    def test_other_queries_are_checked_rep_against_rep(self):
        same = query(1, [1], oracle=False, fps=((5, "ab"), (5, "ab")))
        differ = query(1, [1], oracle=False, fps=((5, "ab"), (4, "ab")))
        self.assertEqual(run.check({"a": same, "b": differ}, {})[:2], (2, 1))


if __name__ == "__main__":
    unittest.main()
