#!/bin/bash
# Dev loop: verify + oracle-compare a SUBSET of queries at one SF.
# Usage: tools/check_queries.sh <sfDir> <q1,q2,...>
# Runs graft.Verify with the name filter, prunes oracle_sql.json to the
# subset (compare.py iterates the json), then compare.py. The sbt log stays
# in the temp dir; on failure its tail is printed.
set -e
SF="$1"; QS="$2"
OUT=$(mktemp -d)
LOG="$OUT/verify.log"
sbt "runMain graft.Verify $SF $OUT $QS" >"$LOG" 2>&1 || {
  echo "verify failed (log: $LOG):"; tail -40 "$LOG"; exit 1; }
python3 - "$OUT" "$QS" <<'EOF'
import json, sys
out, qs = sys.argv[1], set(sys.argv[2].split(","))
o = json.load(open(f"{out}/oracle_sql.json"))
# Guard (r16 advice): a misspelled name used to pass vacuously — Verify's
# filter ran nothing and compare.py compared an empty set. Every requested
# name must exist in the declared oracle set.
missing = sorted(qs - set(o))
if missing:
    sys.exit(f"unknown query name(s): {', '.join(missing)}")
kept = {k: v for k, v in o.items() if k in qs}
json.dump(kept, open(f"{out}/oracle_sql.json", "w"))
print(f"comparing {len(kept)} quer{'y' if len(kept)==1 else 'ies'}: {', '.join(sorted(kept))}")
EOF
python3 tools/compare.py "$SF" "$OUT"
rm -rf "$OUT"
