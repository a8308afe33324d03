#!/usr/bin/env bash
# Pre-commit guard: the repo must never be committed uncompiled.
# Round 6 ended with an undefined symbol at HEAD and zeroed the whole
# round's correctness + bench signal; this makes that impossible.
#
# Usage: scripts/precommit.sh [--test]
#   (no args)  sbt Test/compile  — main + test sources must compile
#   --test     additionally runs the full scalatest suite, compiles the
#              perfbench harness against the engine (its own sbt build,
#              which the root build never compiles, so a changed engine
#              signature it calls would otherwise go unnoticed) and runs
#              perfbench's python unit tests
set -euo pipefail
cd "$(dirname "$0")/.."
sbt -batch Test/compile
if [[ "${1:-}" == "--test" ]]; then
  sbt -batch test
  (cd perfbench && sbt -batch Test/compile)
  python3 -m unittest discover -s perfbench/tests
fi
echo "precommit: OK"
