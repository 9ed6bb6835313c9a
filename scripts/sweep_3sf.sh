#!/bin/bash
# Full 3-SF oracle sweep INCLUDING the dump-scoped keys (r11 verdict
# item 5): each SF's Verify run is launched with SPARK_GRAFT_DUMP_ALL_SF=1
# so OracleDump publishes that SF's dumps, then remap_dump_scoped.py
# points the oracle SQL at them (sf0.01 needs no remap — it's the
# compare SF the static SQL already names).
#
# r12 advice: pipefail + full check_oracle output captured to a log and
# exit status checked explicitly, so an oracle FAIL aborts the sweep and
# no FAIL line is hidden by the tail.
#
# Usage: sweep_3sf.sh [outRoot]   (default /tmp/graft_sweep)
set -e -o pipefail
OUT=${1:-/tmp/graft_sweep}
mkdir -p "$OUT"
cd "$(dirname "$0")/.."
# verify <log> <sfDir> <outDir>: one Verify run that publishes the SF's dumps
verify() {
  SPARK_GRAFT_DUMP_ALL_SF=1 SPARK_DRIVER_MEM=48g \
    sbt -batch "runMain graft.Verify $2 $3" > "$1" 2>&1
}
for SF in sf0.001 sf0.01 sf0.1; do
  echo "=== $SF ==="
  rm -rf "$OUT/$SF"
  verify \
    "$OUT/verify_$SF.log" "/root/testdata/$SF" "$OUT/$SF"
  if [ "$SF" != "sf0.01" ]; then
    python3 scripts/remap_dump_scoped.py "$OUT/$SF" "$SF"
  fi
  if ! python3 scripts/check_oracle.py "/root/testdata/$SF" "$OUT/$SF" \
      > "$OUT/check_$SF.log" 2>&1; then
    echo "ORACLE FAIL at $SF — full log: $OUT/check_$SF.log"
    grep -n "FAIL\|ERR" "$OUT/check_$SF.log" || true
    tail -5 "$OUT/check_$SF.log"
    exit 1
  fi
  grep -n "FAIL\|ERR" "$OUT/check_$SF.log" && { echo "unexpected FAIL lines above"; exit 1; }
  tail -5 "$OUT/check_$SF.log"
  # plan-fingerprint gate, wired into the sweep so it can't decay into a
  # hand-run tool (r13 verdict item 6): the sf0.01 Verify run's
  # fingerprints are diffed against the committed floor; a CHANGED or
  # MISSING plan fails the sweep. Re-freeze only by deliberate commit
  # (check_plans.py --freeze after reviewing diffs).
  if [ "$SF" = "sf0.01" ]; then
    if ! python3 scripts/check_plans.py "$OUT/$SF/plan_fingerprints.json" \
        plans_floor.json > "$OUT/check_plans.log" 2>&1; then
      echo "PLAN GATE FAIL — full log: $OUT/check_plans.log"
      tail -20 "$OUT/check_plans.log"
      exit 1
    fi
    tail -3 "$OUT/check_plans.log"
  fi
done
