#!/usr/bin/env python3
"""Local mirror of the driver's correctness gate.

Usage: python3 tools/verify_local.py [sfDir] [outDir]

Assumes graft.Verify has already written outDir/<name>/ parquet dirs and
outDir/oracle_sql.json (run via tools/run_verify.sh). For each query:
run the oracle SQL in DuckDB against the same parquet tables, compare
to the Spark result as a sorted-row multiset with columns sorted by
name (the driver's documented compare), report match/mismatch.
SPARK_GRAFT_VERIFY_ONLY=q_a,q_b, the variable that restricts
graft.Verify's dump, restricts the check to the named queries too.
"""
import glob
import json
import math
import os
import sys

import duckdb
import pandas as pd

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    # normalize cell values for comparison
    def norm(v):
        if isinstance(v, float):
            if math.isnan(v):
                return "NaN"
            return repr(v)  # full precision
        if hasattr(v, "tolist"):  # numpy arrays / lists
            return str(v.tolist())
        return str(v)
    out = df.map(norm)
    return out.sort_values(by=list(out.columns)).reset_index(drop=True)


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    out_dir = sys.argv[2] if len(sys.argv) > 2 else "/tmp/graft_verify"
    with open(os.path.join(out_dir, "oracle_sql.json")) as f:
        oracles = json.load(f)
    only = {n.strip() for n in
            os.environ.get("SPARK_GRAFT_VERIFY_ONLY", "").split(",")
            if n.strip()}
    if only:
        oracles = {k: v for k, v in oracles.items() if k in only}

    con = duckdb.connect()
    for t in TABLES:
        p = os.path.join(sf_dir, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")

    results = {}
    names = sorted(d for d in os.listdir(out_dir)
                   if os.path.isdir(os.path.join(out_dir, d))
                   and (not only or d in only))
    import time
    t_start = time.time()
    for name in names:
        # stream progress: the sf0.1 audits run for an hour+ in the
        # O(n^2) dedup oracles — a silent batch printer is unmonitorable
        print(f"... {name} (t+{time.time() - t_start:.0f}s)", flush=True)
        files = glob.glob(os.path.join(out_dir, name, "*.parquet"))
        if not files:
            results[name] = "EMPTY-SPARK-OUTPUT"
            continue
        spark_df = pd.concat([pd.read_parquet(f) for f in files],
                             ignore_index=True)
        if name not in oracles:
            # Driver records a weaker rows-only check for oracle-less ops.
            results[name] = (f"OK (rows-only) rows={len(spark_df)}"
                             if len(spark_df) > 0
                             else "ROWS-ONLY-EMPTY")
            continue
        try:
            oracle_df = con.execute(oracles[name]).fetchdf()
        except Exception as e:
            results[name] = f"ORACLE-SQL-ERROR: {e}"
            continue
        a, b = canon(spark_df), canon(oracle_df)
        if list(a.columns) != list(b.columns):
            results[name] = f"SCHEMA-MISMATCH spark={list(a.columns)} oracle={list(b.columns)}"
        elif len(a) != len(b):
            results[name] = f"ROWCOUNT-MISMATCH spark={len(a)} oracle={len(b)}"
        elif not a.equals(b):
            diff = (a != b).any(axis=1)
            idx = diff[diff].index[:3]
            detail = "; ".join(
                f"row{i}: spark={a.loc[i].tolist()} oracle={b.loc[i].tolist()}"
                for i in idx)
            results[name] = f"VALUE-MISMATCH ({int(diff.sum())} rows) {detail[:500]}"
        else:
            results[name] = f"OK rows={len(a)}"

    # A query whose Spark side threw leaves no dump directory; it was
    # never compared, so it must not count as a pass.
    for name in oracles.keys() - set(names):
        results[name] = "MISSING-SPARK-OUTPUT"

    ok = sum(1 for v in results.values() if v.startswith("OK"))
    for k, v in sorted(results.items()):
        print(f"{'PASS' if v.startswith('OK') else 'FAIL':4} {k}: {v}")
    print(f"\n{ok}/{len(results)} queries match")
    sys.exit(0 if ok == len(results) else 1)


if __name__ == "__main__":
    main()
