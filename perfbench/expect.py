#!/usr/bin/env python3
"""Refresh perfbench/expected.json, the committed output fingerprints.

Usage (from the root of a checkout): python3 perfbench/expect.py

For each input scale the workloads use, this dumps every workload query
that has a DuckDB oracle with graft.Verify, checks the dump against the
oracle with the repository's tools/verify_local.py, and fingerprints the
dumped results. Only results the oracle accepts are written; a mismatch
stops the tool. Inputs are the canonical ones (sf0.1 in its committed
row order, and its 10x scale-up), since results do not depend on the
seeded row order.
"""
import json
import os
import shutil
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import run  # noqa: E402


def single_files(src, dst):
    """Copy a Spark-written input set as one parquet file per table, the
    layout tools/verify_local.py reads."""
    import pyarrow.parquet as pq
    os.makedirs(dst, exist_ok=True)
    for t in sorted(os.listdir(src)):
        if t.endswith(".parquet"):
            pq.write_table(pq.read_table(os.path.join(src, t)),
                           os.path.join(dst, t))
    return dst


def main():
    classpath = run.build()
    deadline = time.time() + 3600
    work = os.path.join(run.WORK, "expect")
    shutil.rmtree(work, ignore_errors=True)
    oracles = None
    expected = {}
    for scale in sorted({s for s, _ in run.WORKLOADS.values()}):
        names = sorted({q for s, qs in run.WORKLOADS.values() if s == scale
                        for q in qs})
        if scale == 1:
            data = run.DATA
        else:
            data = single_files(run.inputs(classpath, scale, 0, deadline),
                                os.path.join(work, f"x{scale}-data"))
        dump = os.path.join(work, f"x{scale}")
        run.java(classpath, ["graft.Verify", data, dump], deadline,
                 f"verify-x{scale}",
                 {"SPARK_GRAFT_VERIFY_ONLY": ",".join(names),
                  "SPARK_GRAFT_CPUS": str(run.cores())})
        if oracles is None:
            with open(os.path.join(dump, "oracle_sql.json")) as f:
                oracles = json.load(f)
        for q in names:
            if q not in oracles:
                shutil.rmtree(os.path.join(dump, q), ignore_errors=True)
        p = subprocess.run([sys.executable, os.path.join(run.ROOT, "tools",
                                                         "verify_local.py"),
                            data, dump], capture_output=True, text=True)
        print(p.stdout[-3000:])
        passed = {l.split()[1].rstrip(":") for l in p.stdout.splitlines()
                  if l.startswith("PASS ")}
        fps = run.jvm(classpath, "fingerprint",
                      os.path.join(work, f"fp-x{scale}.json"), deadline,
                      dump=dump)
        missing = [q for q in fps if q not in passed]
        if missing:
            run.fail(f"x{scale}: no oracle match for {missing}")
        expected[f"x{scale}"] = {
            q: {"rows": f["rows"], "hash": f["hash"], "oracle": "duckdb"}
            for q, f in sorted(fps.items())}
    with open(os.path.join(run.BENCH, "expected.json"), "w") as f:
        json.dump(expected, f, indent=1, sort_keys=True)
        f.write("\n")
    print(json.dumps(expected, indent=1))


if __name__ == "__main__":
    main()
