#!/usr/bin/env bash
# Builder-side helper: run a graft main class directly on the compiled
# classes + the image's Spark jars, bypassing sbt (no server lock, no
# ~20 s sbt startup). Compile first with `sbt compile`.
#
# Usage: tools/jrun.sh <mainClass> [args...]
# Env:   SPARK_DRIVER_MEM (default 8g), SPARK_CLEANER_GC (default 30min)
set -eu
cd "$(dirname "$0")/.."
ADD_OPENS=""
for p in java.lang java.lang.invoke java.lang.reflect java.io java.net \
         java.nio java.util java.util.concurrent java.util.concurrent.atomic; do
  ADD_OPENS="$ADD_OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
for p in sun.nio.ch sun.nio.cs sun.security.action sun.util.calendar; do
  ADD_OPENS="$ADD_OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
MAIN="$1"; shift
exec java $ADD_OPENS \
  -Xmx"${SPARK_DRIVER_MEM:-8g}" \
  -Dspark.cleaner.periodicGC.interval="${SPARK_CLEANER_GC:-30min}" \
  -cp "target/scala-2.13/classes:/opt/spark/jars/*" \
  "$MAIN" "$@"
