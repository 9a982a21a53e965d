#!/bin/sh
# Bench wrapper with a machine-parseable tail: runs graft.Bench under sbt
# (which appends its own "[success] ..." noise after the program's stdout),
# then cats the benchmark's SUMMARY JSON so the one-line contract is the
# true last line of this script's stdout AND small enough (~1 KB)
# that a bounded tail capture cannot clip its front.
#
#   SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 SPARK_GRAFT_CPUS=32 ./bench.sh
#
# The full per-query map is left in BENCH_LOCAL.json (override with
# SPARK_GRAFT_BENCH_OUT); the summary line in BENCH_SUMMARY.json
# (override with SPARK_GRAFT_BENCH_SUMMARY).
set -e
cd "$(dirname "$0")"
SUMMARY="${SPARK_GRAFT_BENCH_SUMMARY:-BENCH_SUMMARY.json}"
# a summary left by an earlier run must never pass as this run's result
rm -f "$SUMMARY"
# graft.Bench exits non-zero when a gate failed (its name is in the
# summary's "failed" list); the summary still goes out, then that status
status=0
sbt -batch 'runMain graft.Bench' || status=$?
if [ ! -f "$SUMMARY" ]; then
  echo "bench.sh: graft.Bench wrote no $SUMMARY (exit $status)" >&2
  exit "$(( status == 0 ? 1 : status ))"
fi
cat "$SUMMARY"
exit "$status"
