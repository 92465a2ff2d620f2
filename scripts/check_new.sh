#!/bin/bash
# Dev-only: dump selected queries via graft.Verify at $SF, then run the
# check_correctness.py mirror against the DuckDB oracle once per prefix.
# Usage: scripts/check_new.sh <prefix[,prefix...]>
# Exits non-zero if Verify fails, or if any prefix has a failing oracle
# check or matches no query at all.
set -e
SF=${SF:-/root/testdata/sf0.001}
OUT=${OUT:-/tmp/graft_check}
LOG=${LOG:-/tmp/verify_run.log}
rm -rf "$OUT"; mkdir -p "$OUT"
sbt -batch "runMain graft.Verify $SF $OUT ${1:-}" >"$LOG" 2>&1 || {
  tail -30 "$LOG"; exit 1; }
grep '\[verify\]' "$LOG" || true
status=0
IFS=, read -ra prefixes <<< "${1:-}"
[ ${#prefixes[@]} -gt 0 ] || prefixes=("")
for p in "${prefixes[@]}"; do
  log=$(python3 scripts/check_correctness.py "$OUT" "$SF" "$p") || status=1
  echo "$log" | grep -v -e '^PASS ' -e '^$' | sed "s/^/[$p] /" || true
  if echo "$log" | grep -q '^0 passed, 0 failed$'; then
    echo "prefix '$p' matched no query"; status=1
  fi
done
exit $status
