#!/usr/bin/env bash
# Repo-local bench sweep. Exports SPARK_GRAFT_BENCH_KIND=local so the
# cross-round regression flags diff against the LOCAL artifact series
# (BENCH_r*_local.json) — like-for-like, never against the driver
# harness's BENCH_r*.json (a different environment; see Bench.scala's
# prior-selection comment).
#
# Usage: tools/bench_local.sh [sf_dir]   # default /root/testdata/sf0.1
set -euo pipefail
export SPARK_GRAFT_SF_DIR="${1:-/root/testdata/sf0.1}"
export SPARK_GRAFT_BENCH_KIND=local
# the CPU count is part of the series contract: every BENCH_r*_local
# point must run at the same parallelism or shuffle-heavy queries move
# past the 1.3x flag bar on parallelism alone. 4 = Session.cpus'
# default (Session.scala), which the series has been produced at.
export SPARK_GRAFT_CPUS="${SPARK_GRAFT_CPUS:-4}"
exec sbt -batch "runMain graft.Bench"
