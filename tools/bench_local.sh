#!/usr/bin/env bash
# Repo-local bench sweep. The regression flags diff against ONE record,
# the one SPARK_GRAFT_PRIOR_BENCH names (default BENCH_local.json, the
# latest local record), merged by per-query min with the base that
# record carries (see BenchPrior); a record taken at another core
# count raises no flags. The sweep writes no file in the repo: keep
# its stdout to make it the next record.
#
# Usage: tools/bench_local.sh [sf_dir]   # default /root/testdata/sf0.1
set -euo pipefail
export SPARK_GRAFT_SF_DIR="${1:-/root/testdata/sf0.1}"
export SPARK_GRAFT_PRIOR_BENCH="${SPARK_GRAFT_PRIOR_BENCH:-BENCH_local.json}"
# the CPU count is part of the record's contract: a record taken at
# another parallelism moves shuffle-heavy queries past the 1.3x flag
# bar on parallelism alone (and BenchPrior refuses it). 4 =
# Session.cpus' default (Session.scala), which BENCH_local.json was
# taken at.
export SPARK_GRAFT_CPUS="${SPARK_GRAFT_CPUS:-4}"
exec sbt -batch "runMain graft.Bench"
