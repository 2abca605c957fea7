#!/usr/bin/env bash
# Full local correctness gate: Verify + DuckDB compare at every fixture SF.
# Usage: dev/gate.sh [sf...]   (default: 0.001 0.01 0.1)
# Each SF starts from an empty output dir, so a query that throws or a
# build that fails can never be scored against an earlier run's output.
set -euo pipefail
cd "$(dirname "$0")/.."
sfs=("$@")
[ $# -eq 0 ] && sfs=(0.001 0.01 0.1)
status=0
for sf in "${sfs[@]}"; do
  out="/tmp/graft_gate_sf$sf"
  log="$out.log"
  echo "== sf$sf =="
  rm -rf "$out"
  if ! sbt -batch "runMain graft.Verify /root/testdata/sf$sf $out" >"$log" 2>&1; then
    grep "\[verify\]" "$log" || true
    echo "FAIL sf$sf: sbt exited non-zero (log: $log)"
    status=1
    continue
  fi
  grep "\[verify\]" "$log" || true
  if grep -q "\[verify\] .* failed:" "$log"; then
    echo "FAIL sf$sf: a query threw (log: $log)"
    status=1
    continue
  fi
  python3 dev/compare.py "/root/testdata/sf$sf" "$out" | tail -1 || status=1
done
exit $status
