#!/usr/bin/env bash
# Dump graft.Bench's effective session conf (`spark.conf.getAll` as the
# last query saw it) for one source tree.
#
#   SF_DIR=<sf0.001 data dir> plans/pr9/confdump.sh TREE OUT
#
# TREE is a checkout to measure (never the repo itself: ConfDump.scala is
# copied into its src/main/scala). The run is restricted to q1_agg and
# sync_pipeline (sync_pipeline reads events, so the nanosAsLong key that
# Tables.events sets is in the dump), one sweep with 4 cores.
# Diff two dumps with `diff <(grep -v ... A) B`; app id/name and the
# per-run spark.local.dir path always differ.
set -euo pipefail
here=$(cd "$(dirname "$0")" && pwd)
tree=$(cd "$1" && pwd)
out=$(realpath -m "$2")
mkdir -p "$tree/src/main/scala/graft/confdump"
cp "$here/ConfDump.scala" "$tree/src/main/scala/graft/confdump/"
cd "$tree"
export COURSIER_MODE=offline
export SBT_OPTS="${SBT_OPTS:--Dsbt.override.build.repos=true -Dsbt.repository.config=$HOME/.sbt/repositories -Dsbt.offline=true -Xmx4g}"
export JAVA_TOOL_OPTIONS="-Dspark.sql.queryExecutionListeners=graft.confdump.ConfDump"
export GRAFT_CONF_DUMP=$out SPARK_GRAFT_CPUS=4 SPARK_GRAFT_BENCH_SWEEPS=1 \
  SPARK_GRAFT_SF_DIR=${SF_DIR:?set SF_DIR to a scale-factor data dir} \
  SPARK_GRAFT_BENCH_ONLY=q1_agg,sync_pipeline \
  SPARK_GRAFT_BENCH_OUT=$(mktemp)
sbt --batch -Dsbt.log.noformat=true "runMain graft.Bench" | tail -1
