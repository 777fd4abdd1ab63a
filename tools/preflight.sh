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

echo "== preflight: one streaming lifecycle in src/main"
# Every AvailableNow run goes through graft.streaming.StateStores.run, so
# a change to how a lifecycle runs (trigger, await, rows landed) is made
# in one place.
if grep -rnE 'AvailableNow\(\)|awaitTermination' src/main/scala \
    | grep -v '^src/main/scala/graft/streaming/StateStores\.scala:'; then
  echo "preflight: run streams through StateStores.run / runToParquet" >&2
  exit 1
fi

echo "== preflight: one catalog registry in src/main"
# Every catalog entry is one graft.queries.Entry row (name, builder,
# oracle, optional sliced form); parallel per-module name maps are how
# an entry got named twice and a later module could shadow an earlier.
if grep -rnE 'val (queries|oracles): Map' src/main/scala/graft/queries; then
  echo "preflight: list catalog entries as Entry rows in \`entries\`" >&2
  exit 1
fi

echo "== preflight: one owner of catalog scratch space"
# Catalog entries take their scratch directories from graft.Fixtures
# (withRunRoot / stagedInput); a fixed tmpdir path is shared by every
# JVM on the box, and a private lock-stripe array is a second copy of
# PathLocks.
if grep -rn 'java\.io\.tmpdir' src/main/scala/graft/queries; then
  echo "preflight: take catalog scratch space from Fixtures.withRunRoot / stagedInput" >&2
  exit 1
fi
if grep -rnE 'Array\.fill\(.*\)\(new Object\)' src/main/scala \
    | grep -v '^src/main/scala/graft/LakeCommit\.scala:'; then
  echo "preflight: lock paths through PathLocks (graft/LakeCommit.scala)" >&2
  exit 1
fi

echo "== preflight: sbt Test/compile"
sbt -batch Test/compile

echo "== preflight: sbt test"
sbt -batch test

echo "== preflight: OK — safe to commit"
