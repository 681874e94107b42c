#!/bin/bash
# Run-alone Bench pin: one Bench JVM (default scale factor sf0.1, all
# host cores), RUNS timed repetitions per query (default 5), optionally
# restricted to the comma-separated query list ONLY. Writes
#   $STEM_raw.txt  stdout, bracketed by launch/end load stamps + commit
#   $STEM_err.txt  stderr
#   $STEM.json     the total-metric line
# Examples:
#   STEM=tools/bench_pin_r22_open_258q tools/pin.sh
#   STEM=tools/bench_ab_r22_8q ONLY=tpch_q1,dedup_exact_hash tools/pin.sh
set -euo pipefail
cd "$(dirname "$0")/.."
: "${STEM:?set STEM, the output path stem}"
stamp() { echo "$1: $(date -u +%FT%TZ) load=$(cut -d' ' -f1-3 /proc/loadavg)"; }
{
  stamp launch
  echo "commit=$(git rev-parse --short HEAD) runs=${RUNS:-5} only=${ONLY:-all}"
  env SPARK_GRAFT_CPUS="${SPARK_GRAFT_CPUS:-$(nproc)}" \
    SPARK_GRAFT_RUNS="${RUNS:-5}" ${ONLY:+SPARK_GRAFT_ONLY="$ONLY"} \
    sbt -batch "runMain graft.Bench"
  stamp end
} > "${STEM}_raw.txt" 2> "${STEM}_err.txt"
grep -o '{"metric":"total","value":[0-9.]*,"unit":"sec","queries".*' \
  "${STEM}_raw.txt" | head -1 > "${STEM}.json" || true
