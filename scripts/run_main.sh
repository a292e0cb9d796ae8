#!/usr/bin/env bash
# Run a graft main class directly against the compiled classes + the
# image's Spark jars, without sbt (no build-lock contention, no JVM
# relaunch of the sbt shell). Compile first: `sbt compile`.
#
#   scripts/run_main.sh graft.Bench [args...]
#
# To time a few queries without the whole suite, name them and the run
# count:
#
#   SPARK_GRAFT_BENCH_ONLY=q1,q2 SPARK_GRAFT_BENCH_RUNS=3 \
#     scripts/run_main.sh graft.Bench
#
# Honors SPARK_DRIVER_MEM like build.sbt (default 8g).
set -eu
cd "$(dirname "$0")/.."
MAIN="$1"; shift
ADD_OPENS=""
for p in java.lang java.lang.invoke java.lang.reflect java.io java.net \
         java.nio java.util java.util.concurrent java.util.concurrent.atomic \
         sun.nio.ch sun.nio.cs sun.security.action sun.util.calendar; do
  ADD_OPENS="$ADD_OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
exec java $ADD_OPENS \
  -Xmx"${SPARK_DRIVER_MEM:-8g}" \
  -Dspark.ui.enabled=false \
  -Dspark.sql.session.timeZone=UTC \
  -cp "target/scala-2.13/classes:/opt/spark/jars/*" \
  "$MAIN" "$@"
