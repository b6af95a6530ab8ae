#!/usr/bin/env bash
# Snapshot gate: no commit without a compiling tree (main + test).
# Round 6's end-of-round snapshot landed a signature refactor with two
# stale call sites and zeroed the round's artifacts — this is the
# one-line guard that makes that impossible. Run before EVERY commit:
#
#   tools/precommit.sh && git commit ...
#
# Full-test variant (slower, ~3.5 min): tools/precommit.sh test
#
# Both variants also run graft.SmokeCheck — the seconds-scale
# environment-drift gate (testdata regens have changed the events.ts
# parquet encoding twice; round 11 shipped 10 broken queries because
# nothing in-session read the regenerated files). Skip with
# SKIP_SMOKE=1 when testdata is known-good and iterating fast.
set -euo pipefail
cd "$(dirname "$0")/.."
# One production path per kernel, one session factory: no code under
# src/ may probe the function registry for a kernel (the kernels are
# required, see graft.GraftExtensions) or build a session outside
# graft.GraftSession. bench/ keeps its own session and is not checked.
stray=$(grep -rnE 'functionExists\(|SparkSession\.builder' src \
  | grep -v '^src/main/scala/graft/GraftSession\.scala:' || true)
if [[ -n "$stray" ]]; then
  echo "precommit: kernel probe or session builder outside GraftSession.scala:" >&2
  echo "$stray" >&2
  exit 1
fi
# One shard stager: writing a DataFrame as one-file shards for a
# file-stream source lives in StreamOps.stageFileShards only. bench/
# and src/test are not checked.
stray=$(grep -rn 'startsWith("part-")' src/main \
  | grep -v '^src/main/scala/graft/streaming/StreamOps\.scala:' || true)
if [[ -n "$stray" ]]; then
  echo "precommit: part-file staging outside StreamOps.scala (use StreamOps.stageFileShards):" >&2
  echo "$stray" >&2
  exit 1
fi
if [[ "${1:-}" == "test" ]]; then
  sbt -batch test
else
  sbt -batch Test/compile
fi
if [[ "${SKIP_SMOKE:-}" != "1" ]]; then
  sbt -batch "runMain graft.SmokeCheck"
fi
