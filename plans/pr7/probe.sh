#!/bin/bash
# Compiles plans/pr7/ReadProbe.scala against the program's classes (build
# them first with `sbt compile`) using the Scala compiler in Spark's jars
# ($SPARK_HOME, else the install that holds spark-submit), then runs it;
# from the repo root:
#   plans/pr7/probe.sh [passes] > plans/pr7/probe.jsonl
set -e
SPARK_HOME=${SPARK_HOME:-$(dirname "$(dirname "$(readlink -f "$(command -v spark-submit)")")")}
JARS=$SPARK_HOME/jars
CLASSES=target/scala-2.13/classes
OUT=$(mktemp -d)
trap 'rm -rf "$OUT"' EXIT
COMPILER=$(ls $JARS/scala-compiler-*.jar $JARS/scala-library-*.jar $JARS/scala-reflect-*.jar | paste -sd:)
java -Xmx1g -cp "$COMPILER" scala.tools.nsc.Main -nowarn -d "$OUT" \
  -cp "$CLASSES:$JARS/*" "$(dirname "$0")/ReadProbe.scala"
OPENS=""
for p in java.lang java.lang.invoke java.lang.reflect java.io java.net java.nio \
    java.util java.util.concurrent java.util.concurrent.atomic sun.nio.ch sun.nio.cs \
    sun.security.action sun.util.calendar; do
  OPENS="$OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
java -Xmx2g $OPENS -cp "$OUT:$CLASSES:$JARS/*" ReadProbe "$@" 2>/dev/null
