#!/bin/bash
# Differential fuzz gate: run the FULL query surface on seeded random dirty
# corpora (tools/fuzz_gen.py) and hash-compare every query against its
# DuckDB oracle twin — the latent-divergence detector the fixed testdata
# can't be (every cross-engine bug class found so far — NULL ordering,
# NULL vs '' propagation, malformed-JSON handling, zero-norm vectors, ANSI
# casts — only shows on dirty inputs). The compare is the dtype-exact
# driver mirror (tools/verify_driver_mirror.py); its full report is left in
# /tmp/graft_fuzz_<seed>_out.log.
#
# Usage: tools/fuzz_gate.sh [seeds...]   (default: 1 2)
set -euo pipefail
cd "$(dirname "$0")/.."
seeds=("${@:-1 2}")
[ $# -gt 0 ] && seeds=("$@")
rc=0
for seed in ${seeds[@]}; do
  dir=/tmp/graft_fuzz_$seed
  out=/tmp/graft_fuzz_${seed}_out
  python3 tools/fuzz_gen.py "$dir" "$seed"
  sbt -batch "runMain graft.Verify $dir $out" >/dev/null 2>&1 || {
    echo "fuzz_gate: Verify crashed on seed $seed" >&2; rc=1; continue; }
  if python3 tools/verify_driver_mirror.py "$dir" "$out" > "$out.log"; then
    echo "fuzz_gate: seed $seed GREEN"
  else
    echo "fuzz_gate: seed $seed FAILED:" >&2
    grep -A3 ^FAIL "$out.log" >&2 || true
    rc=1
  fi
done
exit $rc
