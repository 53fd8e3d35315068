#!/usr/bin/env bash
# tools/ci.sh — the one-command local gate: tests, the correctness
# surface (Verify dump + DuckDB oracle compare), the flagship smoke,
# and the docs/plans regeneration — so a source change can never ship
# with stale plan-dump artifacts (they are regenerated in the same run
# that proves the change green, and any drift shows up in git status).
#
# Usage: tools/ci.sh [sfDir] [verifyOutDir]
#   sfDir        testdata scale dir   (default /root/testdata/sf0.01)
#   verifyOutDir Verify dump target   (default /tmp/vout)
#
# Note: uses `sbt -batch`; close any interactive sbt session on this
# project first (the sbt server lock is per-project).
set -euo pipefail
cd "$(dirname "$0")/.."

SF="${1:-/root/testdata/sf0.01}"
OUT="${2:-/tmp/vout}"

# the staging contract (graft.util.Staging) is the one place that reads
# the fixture root and touches a staged-dir marker: any other main
# source doing so has copied the contract by hand
STAGING=src/main/scala/graft/util/Staging.scala
if grep -rn --include='*.scala' -e 'GRAFT_FIXTURE_DIR' -e '"_STAGED"' \
    -e '"_STAGED_SIG"' src/main/scala | grep -v "^$STAGING:"; then
  echo "ci.sh: staging contract used outside $STAGING (lines above)" >&2
  exit 1
fi

# one sbt invocation, one JVM: unit tests, correctness dump, smoke,
# plan dumps (Plans writes docs/plans/<key>.txt for every declared key)
sbt -batch test \
  "runMain graft.Verify $SF $OUT" \
  "runMain graft.Smoke" \
  "runMain graft.Plans $SF docs/plans"

# declared outputs must be pandas-sortable scalar columns (the driver's
# oracle gate crashes on array cells — how e32 shipped red in r8 while
# the array-normalizing local compare stayed green); the selftest first
# proves the lint still fails on a deliberate array-valued key
python3 tools/shape_lint.py --selftest
python3 tools/shape_lint.py "$OUT"

python3 tools/compare.py "$SF" "$OUT"

# surface plan drift loudly: a diff here means the change altered a
# physical plan — review it and commit docs/plans with the source change
if ! git diff --quiet -- docs/plans; then
  echo "NOTE: docs/plans changed — review and commit with this change:"
  git diff --stat -- docs/plans
fi
echo "ci.sh: all gates green"
