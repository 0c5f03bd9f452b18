#!/usr/bin/env bash
# Alternating N/4N scaling evidence (BASELINE.md methodology): runs
# graft.ScalingBench in interleaved (local[4N], local[N]) pairs so VM
# "weather" decorrelates, and prints the per-level walls. 4N = nproc and
# N = max(1, nproc/4) (local[4]/local[1] on a 4-core box). Median per level
# and efficiency = (thru_4N / thru_N) / 4 are computed by the caller.
#
# Per-invocation sbt output is kept in /tmp/scaling-inv-<phase>-<pair>-<cpus>.log
# (a failed invocation prints FAILED and the loop continues — one bad run
# must not abort the evidence collection).
#
# Usage: scripts/scaling_run.sh [pairs] [phase] [repl] [runs-per-invocation]
set -uo pipefail
cd "$(dirname "$0")/.."
PAIRS="${1:-3}"
PHASE="${2:-kg}"
REPL="${3:-400}"
RUNS="${4:-1}"
export SPARK_GRAFT_SF_DIR="${SPARK_GRAFT_SF_DIR:-/root/testdata/sf0.1}"
export SPARK_GRAFT_PHASE="$PHASE"
export SPARK_GRAFT_REPL="$REPL"
export SPARK_GRAFT_RUNS="$RUNS"
export SPARK_DRIVER_MEM="${SPARK_DRIVER_MEM:-8g}"
HI="$(nproc)"
LO=$(( HI / 4 > 0 ? HI / 4 : 1 ))
for i in $(seq 1 "$PAIRS"); do
  for CPUS in "$HI" "$LO"; do
    echo "=== pair $i cpus=$CPUS phase=$PHASE repl=$REPL" >&2
    LOG="/tmp/scaling-inv-$PHASE-$i-$CPUS.log"
    SPARK_GRAFT_CPUS=$CPUS sbt -batch "runMain graft.ScalingBench" >"$LOG" 2>&1
    grep -oE '\{"metric".*\}' "$LOG" \
      || echo "FAILED pair=$i cpus=$CPUS phase=$PHASE (see $LOG)"
  done
done
