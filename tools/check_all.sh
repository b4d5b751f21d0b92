#!/usr/bin/env bash
# Verification sweep: eight gates, numbered 1/8 to 8/8, run in order;
# the first that breaks fails the script. Run-once tools rot, so every
# change runs them all:
#   1 drift-attribution tooling selftest
#   2 driver-style DuckDB oracle compare
#   3 ANN recall cross-engine recomputation
#   4 g03 temp-table oracle
#   5 decoded-media third-engine oracle (m01/m04/m05/m06)
#   6 trained-quantizer third-engine oracle
#   7 sketch accuracy-contract bounds (q34/q42/q91)
#   8 dedup large-SF oracle tooling selftest
#
# Usage: tools/check_all.sh [sfDir] [verifyOutDir]
#   sfDir        default /root/testdata/sf0.01 (the driver-graded SF)
#   verifyOutDir default /tmp/graft_check_all — populated by running
#                graft.Verify when it does not already hold dumps, so the
#                script works standalone or on top of an existing run
set -euo pipefail
cd "$(dirname "$0")/.."
SF_DIR="${1:-/root/testdata/sf0.01}"
OUT_DIR="${2:-/tmp/graft_check_all}"

if [ ! -f "$OUT_DIR/oracle_sql.json" ]; then
  echo "== graft.Verify $SF_DIR -> $OUT_DIR"
  sbt -batch "runMain graft.Verify $SF_DIR $OUT_DIR"
fi

echo "== gate 1/8: drift-attribution tooling selftest (synthetic hot window)"
python3 tools/drift_join_selftest.py

echo "== gate 2/8: driver-style DuckDB oracle compare"
python3 tools/check_oracle.py "$SF_DIR" "$OUT_DIR"

echo "== gate 3/8: ANN recall cross-engine recomputation (pure-Python kernel)"
python3 tools/ann_recall_oracle.py "$SF_DIR" "$OUT_DIR"

echo "== gate 4/8: g03 temp-table oracle (MATERIALIZED-stage recipe)"
python3 tools/g03_oracle_tt.py "$SF_DIR" "$OUT_DIR"

echo "== gate 5/8: decoded-media third-engine oracle (pure-Python codec)"
python3 tools/media_oracle.py "$SF_DIR" "$OUT_DIR"

echo "== gate 6/8: trained-quantizer third-engine oracle (pure-Python IVF/PQ/SQ8/kNN/SemDeDup/MMR)"
python3 tools/codebook_oracle.py "$SF_DIR" "$OUT_DIR"

echo "== gate 7/8: sketch accuracy-contract bounds (q34/q42/q91 vs DuckDB exact)"
python3 tools/sketch_bounds_oracle.py "$SF_DIR" "$OUT_DIR"

echo "== gate 8/8: dedup large-SF oracle tooling selftest (factorized guard + brute cross-check)"
python3 tools/dedup_oracle_tt.py --selftest

echo "check_all: ALL GATES GREEN ($SF_DIR)"
