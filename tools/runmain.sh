#!/bin/bash
# Direct-java launcher for the graft mains (Bench/Verify/GenData/Explain…)
# — same JVM flags as build.sbt's forked run, but no sbt lock, so scale-data
# generation and a test run can proceed in parallel. Usage:
#   tools/runmain.sh graft.GenData /root/testdata/sf0.1 testdata/sf1 10
# Env: SPARK_DRIVER_MEM (default 8g) sizes the heap, same as sbt runs.
set -euo pipefail
cd "$(dirname "$0")/.."
CP="target/scala-2.13/classes:src/main/resources:/opt/spark/jars/*"
ADD_OPENS=""
for p in java.lang java.lang.invoke java.lang.reflect java.io java.net java.nio \
         java.util java.util.concurrent java.util.concurrent.atomic \
         sun.nio.ch sun.nio.cs sun.security.action sun.util.calendar; do
  ADD_OPENS="$ADD_OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
# GRAFT_JAVA_OPTS: extra JVM flags (e.g. -Xlog:gc for a heap profile run)
exec java $ADD_OPENS ${GRAFT_JAVA_OPTS:-} \
  -Dspark.ui.enabled=false -Dspark.sql.session.timeZone=UTC \
  -Xmx"${SPARK_DRIVER_MEM:-8g}" -XX:ReservedCodeCacheSize=512m \
  -cp "$CP" "$@"
