#!/usr/bin/env bash
# Packaged-deployment proof: build the graft jar with sbt package and run
# the 5-query smoke set through /opt/spark/bin/spark-submit — the exact
# route a real cluster uses (jar on the submit classpath, extensions via
# --conf, no sbt at runtime). See docs/DEPLOY.md.
set -euo pipefail
cd "$(dirname "$0")/.."
export LC_ALL=C.utf8

SF_DIR="${1:-/root/testdata/sf0.001}"

sbt -batch package 1>&2
JAR=$(ls target/scala-2.13/*.jar | head -1)
echo "[submit-smoke] jar: $JAR" 1>&2

exec /opt/spark/bin/spark-submit \
  --master 'local[8]' \
  --driver-memory 4g \
  --class graft.SubmitSmoke \
  --conf spark.sql.shuffle.partitions=8 \
  --conf spark.sql.session.timeZone=UTC \
  --conf spark.sql.legacy.parquet.nanosAsLong=true \
  --conf spark.ui.enabled=false \
  --conf spark.sql.extensions=graft.functions.GraftExtensions \
  --conf spark.sql.codegen.cache.maxEntries=4096 \
  "$JAR" "$SF_DIR"
