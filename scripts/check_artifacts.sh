#!/usr/bin/env bash
# Round-artifact staleness check (r17 verdict "What's wrong #1" / task
# #4): every shipped gate artifact must be NEWER than HEAD's commit
# time, else it describes a tree that no longer exists (r17 shipped an
# sf0.1 CORRECTNESS file and a PLANDUMP that predated the last two lake
# read-path commits). Run as the LAST step of the round-artifact chain:
#   scripts/check_artifacts.sh r18
# Exits non-zero listing every stale or missing artifact.
set -euo pipefail
cd "$(dirname "$0")/.."
ROUND="${1:?usage: check_artifacts.sh <round-label, e.g. r18>}"
# Compare against the last commit touching the ENGINE SOURCE, not bare
# HEAD: an artifact-only (or tooling-only) commit would otherwise
# immediately re-stale the very artifacts it ships (r19 — the check is
# meant to prove the artifacts describe the shipped CODE).
HEAD_TS=$(git log -1 --format=%ct -- src build.sbt)
# An empty HEAD_TS (no commit touches src/ or build.sbt) would make the
# `-lt` test below error inside the elif, which `set -e` ignores, and the
# script would report OK: fail loudly instead.
if [ -z "$HEAD_TS" ]; then
  echo "STALE-CHECK FAIL: no commit touches src/ or build.sbt — no" \
       "engine commit to compare the artifacts against" >&2
  exit 1
fi
fail=0
for f in "CORRECTNESS_sf0.1_${ROUND}.json" "PLANDUMP_${ROUND}.txt" \
         "BENCH_LOCAL_${ROUND}.json"; do
  if [ ! -f "$f" ]; then
    echo "STALE-CHECK FAIL: $f missing" >&2
    fail=1
  elif [ "$(stat -c %Y "$f")" -lt "$HEAD_TS" ]; then
    echo "STALE-CHECK FAIL: $f ($(date -d @"$(stat -c %Y "$f")" +%T)) is" \
         "older than HEAD's commit ($(date -d @"$HEAD_TS" +%T)) — " \
         "regenerate it from the shipped tree" >&2
    fail=1
  fi
done
[ "$fail" -eq 0 ] && echo "STALE-CHECK OK: all ${ROUND} artifacts newer than HEAD"
exit "$fail"
