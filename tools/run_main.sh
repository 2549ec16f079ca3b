#!/bin/bash
# Direct-JVM runner for graft mains (Bench, Verify, PlanDump, ScaleGen)
# outside sbt: same --add-opens set, -Xmx default and JIT code cache as
# build.sbt's `run / javaOptions`, so a campaign invoked here is the same
# JVM shape as `sbt runMain` without sbt's project-lock serialization or
# startup.
# Usage: SPARK_GRAFT_SF_DIR=... tools/run_main.sh Bench [args...]
set -euo pipefail
MAIN="$1"; shift
OPENS=""
for p in java.lang java.lang.invoke java.lang.reflect java.io java.net \
         java.nio java.util java.util.concurrent java.util.concurrent.atomic \
         sun.nio.ch sun.nio.cs sun.security.action sun.util.calendar; do
  OPENS="$OPENS --add-opens=java.base/$p=ALL-UNNAMED"
done
exec java $OPENS \
  -Xmx"${SPARK_DRIVER_MEM:-8g}" \
  -XX:ReservedCodeCacheSize=512m \
  -Dspark.ui.enabled=false \
  -Dspark.sql.session.timeZone=UTC \
  -cp "/root/repo/target/scala-2.13/classes:/opt/spark/jars/*" \
  "graft.$MAIN" "$@"
