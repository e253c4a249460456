#!/usr/bin/env bash
# The commit gate (SURVEY §4): ANY commit touching src/main must pass
# this first — round 3 was zeroed by one non-compiling final snapshot.
#   usage: scripts/gate.sh [sfDir]   (default /root/testdata/sf0.01)
set -euo pipefail
cd "$(dirname "$0")/.."
SF="${1:-/root/testdata/sf0.01}"
OUT="$(mktemp -d /tmp/graft-gate.XXXXXX)"
trap 'rm -rf "$OUT"' EXIT

# sbt prints its [error] lines on stdout: keep the log, show it on failure
if ! sbt -batch "compile; Test/compile" >"$OUT/compile.log" 2>&1; then
  echo "GATE FAIL: compile" >&2
  cat "$OUT/compile.log" >&2
  exit 1
fi
# same for the tests: keep the log, and on failure name every failed test
if ! sbt -batch test >"$OUT/test.log" 2>&1; then
  echo "GATE FAIL: tests" >&2
  grep -E "\*\*\* (FAILED|ABORTED) \*\*\*" "$OUT/test.log" >&2 || tail -20 "$OUT/test.log" >&2
  exit 1
fi
grep -E "Tests:" "$OUT/test.log" | tail -1
# report only: oracle SQL copied between rows instead of named once
python3 scripts/oracle_repeats.py || true
# report only: library defs that nothing in src/main calls
python3 scripts/unused_defs.py || true
# A query that THROWS at runtime leaves no output dir — check_oracle
# would then never see it, so a runtime-broken (but compiling) snapshot
# would gate green. Verify records such failures in _failures.txt
# (machine-readable; its exit code stays 0 for the driver's contract).
sbt -batch "runMain graft.Verify $SF $OUT" 2>&1 | grep -E '\[verify\]' || true
if [ -f "$OUT/_failures.txt" ]; then
  echo "GATE FAIL: queries failed at runtime in Verify:" >&2
  cat "$OUT/_failures.txt" >&2
  exit 1
fi
# show every non-PASS line (FAIL/WARN/SKIP + summary), not just the tail
python3 scripts/check_oracle.py "$SF" "$OUT" | grep -vE '^PASS'
