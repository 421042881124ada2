#!/bin/bash
# Tri-SF certification sweep: run graft.Verify + tools/check.py at
# sf0.001 / sf0.01 / sf0.1 sequentially, logging to OUT.
# Usage: tools/trisf.sh [OUT] [query ...]
# Query names after OUT are passed to graft.Verify, which then runs and
# writes oracles for only those queries: a change to a few queries is
# certified at all three SFs without the full registry sweep.
# Reads the ALREADY-COMPILED classes via tools/run_main.sh — recompile
# before launching if src changed.
set -uo pipefail
TOOLS=$(cd "$(dirname "$0")" && pwd)
OUT=${1:-/tmp/trisf_r10}
shift $(( $# > 0 ? 1 : 0 ))
mkdir -p "$OUT"
for SF in 0.001 0.01 0.1; do
  D="/root/testdata/sf$SF"
  V="$OUT/out_sf$SF"
  rm -rf "$V"
  echo "=== sf$SF verify start $(date -u +%H:%M:%S) ===" | tee -a "$OUT/log.txt"
  SPARK_DRIVER_MEM=${SPARK_DRIVER_MEM:-16g} bash "$TOOLS/run_main.sh" \
    graft.Verify "$D" "$V" "$@" >"$OUT/verify_sf$SF.log" 2>&1
  echo "=== sf$SF verify done $(date -u +%H:%M:%S), rc=$? ===" | tee -a "$OUT/log.txt"
  grep -a "\[verify\].*failed" "$OUT/verify_sf$SF.log" | tee -a "$OUT/log.txt"
  python3 "$TOOLS/check.py" "$V" "$D" >"$OUT/check_sf$SF.txt" 2>&1
  tail -1 "$OUT/check_sf$SF.txt" | sed "s/^/sf$SF: /" | tee -a "$OUT/log.txt"
done
echo "=== SWEEP COMPLETE $(date -u +%H:%M:%S) ===" | tee -a "$OUT/log.txt"
