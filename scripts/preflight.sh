#!/usr/bin/env bash
# Preflight gate for commits touching src/: compile, run the session
# boundary scans, smoke the driver entry, then run the full sf0.01
# oracle compare. Run from the repository root:
#   scripts/preflight.sh
# Exits non-zero on the first red step. See .claude/skills/verify/SKILL.md
# for the full verification recipe (this script is its commit-gate subset).
set -euo pipefail
cd "$(dirname "$0")/.."

echo "[preflight] sbt compile"
sbt -batch compile

echo "[preflight] session boundary scans"
# source scans (one session builder, one function registration
# boundary, no scratch temp views, no stray conf writes, one API error
# renderer, one API catalog swap, one tile-kernel AOI parse and mask)
# plus the foreign-session entry check
sbt -batch 'testOnly graft.SessionBoundarySpec'

echo "[preflight] graft.Smoke (entry rows on sf0.001)"
# `|| true` keeps set -e from killing the script when Smoke crashes
# before printing the marker — the branch below owns that diagnostic
rows=$(sbt -batch 'runMain graft.Smoke' 2>&1 \
  | grep -o 'ENTRY_ROWS=[0-9]*' | tail -1 | cut -d= -f2 || true)
if [ -z "${rows:-}" ] || [ "$rows" -le 0 ]; then
  echo "[preflight] FAIL: ENTRY_ROWS=${rows:-none}" >&2
  exit 1
fi
echo "[preflight] ENTRY_ROWS=$rows"

echo "[preflight] Verify dump + DuckDB oracle at sf0.01"
out=$(mktemp -d /tmp/preflight_verify.XXXXXX)
trap 'rm -rf "$out"' EXIT
sbt -batch "runMain graft.Verify /root/testdata/sf0.01 $out" >/dev/null 2>&1
summary=$(python3 scripts/localcheck.py "$out" /root/testdata/sf0.01 | tail -1)
echo "[preflight] $summary"
echo "$summary" | grep -q ' 0 fail' || { echo "[preflight] FAIL: oracle mismatches" >&2; exit 1; }

echo "[preflight] OK"
