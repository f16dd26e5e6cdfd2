#!/usr/bin/env bash
# Repo-local bench sweep. Exports SPARK_GRAFT_BENCH_KIND=local so the
# regression flags diff against the LOCAL artifact series
# (BENCH_r*_local.json) — like-for-like, never against the driver
# harness's BENCH_r*.json (a different environment). The flag base is
# one prior: the newest local round below the current one, merged by
# per-query min with the base that artifact recorded (see BenchPrior);
# a prior recorded at another core count raises no flags.
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
