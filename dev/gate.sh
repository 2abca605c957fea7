#!/usr/bin/env bash
# Full local correctness gate: Verify + DuckDB compare at every fixture SF.
# Usage: dev/gate.sh [sf...]   (default: 0.001 0.01 0.1)
set -euo pipefail
cd "$(dirname "$0")/.."
sfs=("${@:-0.001 0.01 0.1}")
[ $# -eq 0 ] && sfs=(0.001 0.01 0.1)
for sf in "${sfs[@]}"; do
  out="/tmp/graft_gate_sf$sf"
  echo "== sf$sf =="
  sbt -batch "runMain graft.Verify /root/testdata/sf$sf $out" 2>&1 \
    | grep "\[verify\]" || true
  python3 dev/compare.py "/root/testdata/sf$sf" "$out" | tail -1
done
