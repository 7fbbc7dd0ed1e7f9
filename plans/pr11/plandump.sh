#!/bin/bash
# Dumps the optimized plan of the streaming sync's transform chain for one
# source tree (plans/pr11/PlanDump.scala). Build the tree first
# (`sbt compile` in it); uses the Scala compiler in Spark's jars.
#   plans/pr11/plandump.sh TREE SF_DIR MSG_DIR > OUT
# Give both trees the same MSG_DIR: the scan path is part of the plan. The
# run that stages MSG_DIR numbers its expression ids differently, so diff
# only runs that found it staged.
set -e
SPARK_HOME=${SPARK_HOME:-$(dirname "$(dirname "$(readlink -f "$(command -v spark-submit)")")")}
JARS=$SPARK_HOME/jars
CLASSES=$(cd "$1" && pwd)/target/scala-2.13/classes
OUT=$(mktemp -d)
trap 'rm -rf "$OUT"' EXIT
COMPILER=$(ls $JARS/scala-compiler-*.jar $JARS/scala-library-*.jar $JARS/scala-reflect-*.jar | paste -sd:)
java -Xmx1g -cp "$COMPILER" scala.tools.nsc.Main -nowarn -d "$OUT" \
  -cp "$CLASSES:$JARS/*" "$(dirname "$0")/PlanDump.scala"
OPENS=""
for p in java.lang java.lang.invoke java.lang.reflect java.io java.net java.nio \
    java.util java.util.concurrent java.util.concurrent.atomic sun.nio.ch sun.nio.cs \
    sun.security.action sun.util.calendar; do
  OPENS="$OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
SPARK_GRAFT_CPUS=${SPARK_GRAFT_CPUS:-2} java -Xmx2g $OPENS \
  -Dspark.sql.session.timeZone=UTC -cp "$OUT:$CLASSES:$JARS/*" PlanDump "$2" "$3" 2>/dev/null
