#!/usr/bin/env bash
# Run a graft main class outside sbt (same JVM flags as build.sbt's
# javaOptions). Lets long Verify/Bench runs proceed while sbt stays free
# for compiles. Usage: scripts/run_main.sh <mainClass> [args...]
# Env: SPARK_DRIVER_MEM (default 12g) sizes the fixed heap.
set -euo pipefail
cd "$(dirname "$0")/.."
# UTF-8 locale: sun.jnu.encoding follows the locale; reference fixture
# FILENAMES carry umlauts (see build.sbt's envVars note).
export LC_ALL=C.utf8
MAIN="$1"; shift
MEM="${SPARK_DRIVER_MEM:-12g}"
OPENS=""
for p in java.lang java.lang.invoke java.lang.reflect java.io java.net \
         java.nio java.util java.util.concurrent java.util.concurrent.atomic; do
  OPENS="$OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
for p in sun.nio.ch sun.nio.cs sun.security.action sun.util.calendar; do
  OPENS="$OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
exec java $OPENS \
  -Dspark.ui.enabled=false \
  -Dspark.sql.session.timeZone=UTC \
  -Dfile.encoding=UTF-8 \
  -Dspark.sql.codegen.cache.maxEntries=4096 \
  -Xms"$MEM" -Xmx"$MEM" -XX:+UseParallelGC \
  -XX:ReservedCodeCacheSize=512m -XX:+UseCodeCacheFlushing \
  -cp "target/scala-2.13/classes:/opt/spark/jars/*" \
  "$MAIN" "$@"
