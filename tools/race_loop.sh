#!/usr/bin/env bash
# Loop the race-prone suites under induced CPU load, recording failures.
#
# The r12 review caught ManifestTableSpec's 4-committer race spec dying
# on a torn-read ChecksumException ONLY when the rig was busy — solo
# re-runs always passed. This runner reproduces that pressure on demand:
# a background stressor occupies STRESS_CORES cores with busy loops
# while the suites run N times; every iteration's outcome lands in
# tools/race_loop_results.txt so a 1-in-50 flake can't hide.
#
# The impact-index suites ride along because the serve-handle registry
# (operators.ImpactHandle) is driver state shared by every session;
# BronzePipelineSpec because the gold mart commits each micro-batch
# through ManifestTable.mergeCommit, i.e. through the same CAS loop.
# IngestChainSpec and BloomDedupGateSpec because the content gate's Bloom
# filter is driver state too (BloomDedupGate.forStore, one per store
# path), shared by every drain and folded forward from a store listing.
# PacedExtractorSpec and GraftDataSourceSpec because they read manifest
# tables through ManifestTable's per-dir schema cache, JVM-wide state that
# every commit fills as it writes.
# GraftDmlSpec and DeleteProofPropertySpec because they prune through the
# one stats comparator (sources.ColStats) every read, DELETE, UPDATE and
# MERGE shares; GraftDmlSpec is also the only suite that drives SQL MERGE
# and UPDATE through ManifestTable's commit loop (`publish`).
#
# Usage: tools/race_loop.sh [iterations] [stress_cores]
#   defaults: 50 iterations, half of `nproc` stressor cores (more
#   oversubscribes the host instead of contending with the suites).
# sbt picks up SBT_OPTS from the environment: export the tier-1 settings
# (offline repositories, -Xmx4g) before running on an offline host.
set -u
cd "$(dirname "$0")/.."

ITER="${1:-50}"
HALF=$(( $(nproc) / 2 ))
STRESS="${2:-$(( HALF > 0 ? HALF : 1 ))}"
SUITES="graft.ManifestTableSpec graft.CommitStoreSpec graft.GraftStreamSpec \
graft.ManifestHardeningSpec graft.MergeCommitSpec graft.CloneRestoreSpec \
graft.GraftDeleteSpec graft.ImpactIndexSpec graft.ImpactDedupGateSpec \
graft.BronzePipelineSpec graft.IngestChainSpec graft.BloomDedupGateSpec \
graft.PacedExtractorSpec graft.GraftDataSourceSpec graft.GraftDmlSpec \
graft.DeleteProofPropertySpec"
OUT="tools/race_loop_results.txt"

# append (never truncate): the results file is the round's cumulative
# evidence record, and a later confirmation run must not erase the
# earlier long run
echo "race_loop: $ITER iterations of [$SUITES] with $STRESS stressor cores" | tee -a "$OUT"

# background stressor: pure busy loops, one per core, no disk I/O (the
# point is scheduler contention, which is what widens the rename-pair
# window the torn-read retry must absorb)
STRESS_PIDS=()
for _ in $(seq 1 "$STRESS"); do
  (while :; do :; done) &
  STRESS_PIDS+=($!)
done
trap 'kill "${STRESS_PIDS[@]}" 2>/dev/null' EXIT

FAILS=0
for i in $(seq 1 "$ITER"); do
  START=$(date +%s)
  if sbt -batch "testOnly $SUITES" >"tools/race_loop_iter.log" 2>&1; then
    R="PASS"
  else
    R="FAIL"
    FAILS=$((FAILS + 1))
    cp tools/race_loop_iter.log "tools/race_loop_fail_$i.log"
  fi
  DUR=$(( $(date +%s) - START ))
  echo "iter $i/$ITER: $R (${DUR}s, load1=$(cut -d' ' -f1 /proc/loadavg))" | tee -a "$OUT"
done

echo "race_loop done: $FAILS failures / $ITER iterations" | tee -a "$OUT"
exit "$FAILS"
