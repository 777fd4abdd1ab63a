#!/usr/bin/env bash
# End-of-round preflight — run before EVERY snapshot commit, no exceptions.
# Round 7 lost 100% of its verification signal to a 4-second compile error
# committed unchecked; this script is the checked-in ritual that prevents
# a recurrence. Exit 0 = safe to commit.
set -euo pipefail
cd "$(dirname "$0")/.."

echo "== preflight: no hand-built JSON in src/main"
# Every JSON document is built by graft.Json; an interpolated template
# or a string escaper is how unescaped text and locale-formatted
# decimals got into response bodies before.
if grep -rnE '"""\{"|jstr\(' src/main/scala; then
  echo "preflight: build JSON with graft.Json, not a string template" >&2
  exit 1
fi

echo "== preflight: sbt Test/compile"
sbt -batch Test/compile

echo "== preflight: sbt test"
sbt -batch test

echo "== preflight: OK — safe to commit"
