#!/usr/bin/env bash
# Snapshot-safety gate (judge r8): NEVER let a non-compiling tree reach
# a commit or an end-of-round snapshot. Run before any commit of source
# changes; the round checklist ends with this script.
#
#   tools/precommit-check.sh          # compile main + tests (~20 s warm)
#   tools/precommit-check.sh --test   # additionally run the full suite
#                                     # and the benchmark's unit tests
#
# Exit 0 = safe to commit/snapshot. Anything else: fix or `git stash`
# the in-flight hunk before snapshotting.
set -euo pipefail
cd "$(dirname "$0")/.."

echo "[precommit] sbt Test/compile ..."
if ! sbt -batch "Test/compile" >/tmp/precommit-compile.log 2>&1; then
  echo "[precommit] COMPILE FAILED — do not commit/snapshot this tree:"
  grep -E "\[error\]" /tmp/precommit-compile.log | head -30
  exit 1
fi
echo "[precommit] compile green."

if [[ "${1:-}" == "--test" ]]; then
  echo "[precommit] sbt test ..."
  if ! sbt -batch test >/tmp/precommit-test.log 2>&1; then
    echo "[precommit] TESTS FAILED:"
    grep -E "\*\*\* FAILED|\[error\]" /tmp/precommit-test.log | head -30
    exit 1
  fi
  grep -E "Tests: succeeded" /tmp/precommit-test.log | tail -1 || true
  echo "[precommit] perfbench unit tests ..."
  if ! python3 -m unittest discover -s perfbench/tests \
      >/tmp/precommit-perfbench.log 2>&1; then
    echo "[precommit] PERFBENCH TESTS FAILED:"
    tail -30 /tmp/precommit-perfbench.log
    exit 1
  fi
  tail -3 /tmp/precommit-perfbench.log
  echo "[precommit] tests green."
fi
