#!/usr/bin/env bash
# Pre-snapshot gate (round-11 verdict item 2): refuse a round-end
# commit unless every verification surface is green —
#   1. the full ScalaTest suite (`sbt test`, exit 0),
#   2. the oracle gate (graft.Verify at sf0.01, which exits 1 on any
#      failed dump, + tools/check_oracle.py over DuckDB),
#   3. the benchmark's own unit tests (perfbench/tests),
#   4. a short api_mixed benchmark run, which exits 1 on any wrong
#      answer: the service reads and read-your-writes after resyncs,
#      on a generated corpus, so it needs no external GeoJSON.
# Step 5 is an informational bench diff.
# Rationale: q210 landed with its own OpsSpec green while a
# cross-cutting plan-guard spec silently reddened — the full suite
# must run before ANY end-of-round snapshot.
#
# Usage:  tools/pre_snapshot.sh            # gate only (exit 0 = safe)
#         tools/pre_snapshot.sh "message"  # gate, then commit -am
set -euo pipefail
cd "$(dirname "$0")/.."

SF_DIR="${SPARK_GRAFT_SF_DIR:-/root/testdata/sf0.01}"
# Size the forked test and Verify JVMs to this machine unless the
# caller did: every core, half the RAM clamped to 2..8 GB (build.sbt
# otherwise forks with -Xmx32g), and a local scratch dir for Spark.
export SPARK_GRAFT_CPUS="${SPARK_GRAFT_CPUS:-$(env -u OMP_NUM_THREADS nproc)}"
export SPARK_DRIVER_MEM="${SPARK_DRIVER_MEM:-$(awk '/^MemTotal:/ {g = int($2 / 2097152)} END {print (g < 2 ? 2 : g > 8 ? 8 : g) "g"}' 2>/dev/null </proc/meminfo || echo 2g)}"
export SPARK_LOCAL_DIRS="${SPARK_LOCAL_DIRS:-/tmp/spark-local}"
OUT_DIR="$(mktemp -d /tmp/pre_snapshot.XXXXXX)"
trap 'rm -rf "$OUT_DIR"' EXIT

echo "[pre-snapshot] 1/5 full test suite..."
sbt -batch test

echo "[pre-snapshot] 2/5 oracle gate at $SF_DIR..."
sbt -batch "runMain graft.Verify $SF_DIR $OUT_DIR/verify"
python3 tools/check_oracle.py "$SF_DIR" "$OUT_DIR/verify"

echo "[pre-snapshot] 3/5 benchmark unit tests..."
python3 -m unittest discover -s perfbench/tests

echo "[pre-snapshot] 4/5 service path (api_mixed, checked answers)..."
python3 perfbench/run.py --workload api_mixed --seed 1 --seconds 5 --trace 0

echo "[pre-snapshot] 5/5 cross-round bench median diff (informational)..."
# round-13 verdict item 3: the in-run spread gates cannot see a clean
# cross-round regression (q93 slipped both); diff the new bench record
# against the last committed one and PRINT any query >1.5x its prior
# median with low spread. Informational — weather still needs a human
# read — but the table must be in every pre-snapshot log.
python3 tools/bench_diff.py bench_history/detail_sf0.1.json || true
# round-15 verdict item 6: the sf1 suite record catches scale-sensitive
# regressions the 0.1 suite cannot (q251's 60-bit-key win was found at
# the next decade); diff it too whenever a committed record exists.
if [[ -f bench_history/detail_sf1-bench.json ]]; then
  python3 tools/bench_diff.py bench_history/detail_sf1-bench.json || true
fi

echo "[pre-snapshot] green: suite, oracle, benchmark tests and service path pass."
if [[ $# -ge 1 ]]; then
  git add -u
  git commit -m "$1"
fi
