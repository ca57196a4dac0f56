#!/bin/bash
# sf1 oracle parity for the FULL suite (round-15 verdict ask #5,
# extending round-14's 2j-tier run): the driver's correctness gate runs
# at sf0.01, but keys with bounded anchors (doc_id < 200 etc.), MoR
# sequence rules, or content-dependent semantics are scale-dependent —
# this proves engine and DuckDB oracle move in lockstep at 10x across
# ALL 222 keys, writing CORRECTNESS_SF1.json.
# Usage: scripts/sf1_oracle.sh [sf1_dir]
set -e
REPO="$(cd "$(dirname "$0")/.." && pwd)"
SF1="${1:-$REPO/target/sf1}"
OUT="$REPO/target/verify_sf1"
rm -rf "$OUT"
"$REPO/scripts/run.sh" graft.Verify "$SF1" "$OUT"
python3 "$REPO/scripts/check_oracle.py" "$SF1" "$OUT" \
  "$REPO/CORRECTNESS_SF1.json"
