#!/usr/bin/env bash
# End-of-round preflight — run before EVERY snapshot commit, no exceptions.
# Round 7 lost 100% of its verification signal to a 4-second compile error
# committed unchecked; this script is the checked-in ritual that prevents
# a recurrence. Exit 0 = safe to commit.
set -euo pipefail
cd "$(dirname "$0")/.."

# The source rules (one JSON writer, one streaming lifecycle, one
# catalog registry, one owner of scratch space, one lock-stripe array,
# one request lifecycle) are graft.SourceRulesSpec, so `sbt test` below
# enforces them along with every other test.

echo "== preflight: sbt Test/compile"
sbt -batch Test/compile

echo "== preflight: sbt test"
sbt -batch test

echo "== preflight: OK — safe to commit"
