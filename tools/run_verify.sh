#!/bin/bash
# Run graft.Verify at a scale factor, then the local DuckDB differential
# compare. Usage: tools/run_verify.sh [sfDir] [outDir]
set -e
SF_DIR=${1:-/root/testdata/sf0.01}
OUT_DIR=${2:-/tmp/graft_verify}
cd "$(dirname "$0")/.."
rm -rf "$OUT_DIR"
SPARK_GRAFT_CPUS=${SPARK_GRAFT_CPUS:-8} sbt -batch "runMain graft.Verify $SF_DIR $OUT_DIR" 2>&1 | grep -vE '^\[info\] (welcome|loading|set|Executing)' | tail -20
python3 tools/verify_local.py "$SF_DIR" "$OUT_DIR"
