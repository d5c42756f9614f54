#!/bin/bash
# Dev loop: verify + oracle-compare a SUBSET of gates at one SF.
# Usage: tools/check_queries.sh <sfDir> <q1,q2,...>
# graft.Verify dumps only the named gates and their oracle_sql.json entries
# (an unknown name fails it), then compare.py compares them. The sbt log
# stays in the temp dir; on failure its tail is printed.
set -e
SF="$1"; QS="$2"
OUT=$(mktemp -d)
LOG="$OUT/verify.log"
sbt "runMain graft.Verify $SF $OUT $QS" >"$LOG" 2>&1 || {
  echo "verify failed (log: $LOG):"; tail -40 "$LOG"; exit 1; }
python3 tools/compare.py "$SF" "$OUT"
rm -rf "$OUT"
