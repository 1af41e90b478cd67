#!/usr/bin/env bash
# Full local replica of the driver's grading gates, in order.
# Usage: tools/run_all_gates.sh   (from the repo root)
set -euo pipefail

echo "== 1/4 unit + integration tests =="
sbt -batch test 2>&1 | grep -E "Tests:|All tests" | tail -2

echo "== 2/4 correctness: sf0.001 =="
sbt -batch "runMain graft.Verify /root/testdata/sf0.001 /tmp/gate_sf0001" \
  2>&1 | grep -E "\[verify\].*failed" || true
python3 tools/check_correctness.py /root/testdata/sf0.001 /tmp/gate_sf0001 | tail -1

echo "== 3/4 correctness: sf0.01 (the driver's t2 gate) =="
sbt -batch "runMain graft.Verify /root/testdata/sf0.01 /tmp/gate_sf001" \
  2>&1 | grep -E "\[verify\].*failed" || true
python3 tools/check_correctness.py /root/testdata/sf0.01 /tmp/gate_sf001 | tail -1

echo "== 4/4 bench: sf0.1 (the driver's BENCH_r{N} input) =="
SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 SPARK_GRAFT_CPUS="$(nproc)" \
  sbt -batch "runMain graft.Bench" 2>&1 | grep -oE '\{"metric".*'
