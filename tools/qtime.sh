#!/bin/bash
# Launch tools/qtime.scala under the same session config as SparkUtil.configure.
# Usage: QT_QUERIES=q144,q140 QT_PASSES=3 tools/qtime.sh
# QT_EXTRA_CONF="k=v k=v" appends/overrides sparks confs (config A/B runs).
# SPARK_GRAFT_REPO names the checkout to time (default: this script's own).
set -e
REPO="${SPARK_GRAFT_REPO:-$(cd "$(dirname "$0")/.." && pwd)}"
export SPARK_GRAFT_REPO="$REPO"
cd "$REPO"
CPUS="${SPARK_GRAFT_CPUS:-32}"
EXTRA=()
for kv in ${QT_EXTRA_CONF:-}; do EXTRA+=(--conf "$kv"); done
exec /opt/spark/bin/spark-shell --master "local[$CPUS]" \
  --conf spark.sql.extensions=graft.spark.GraftExtensions \
  --conf spark.sql.legacy.parquet.nanosAsLong=true \
  --conf spark.sql.shuffle.partitions="$CPUS" \
  --conf spark.sql.adaptive.enabled=true \
  --conf spark.sql.adaptive.coalescePartitions.enabled=true \
  --conf spark.sql.session.timeZone=UTC \
  --conf spark.sql.requireAllClusterKeysForCoPartition=false \
  --conf spark.ui.enabled=false \
  --conf spark.driver.host=127.0.0.1 \
  --driver-memory "${SPARK_DRIVER_MEM:-8g}" \
  "${EXTRA[@]}" \
  --jars "$REPO/target/scala-2.13/symtseriesspark_2.13-0.1.0.jar" \
  -I "$REPO/tools/qtime.scala" 2>/dev/null <<< ""
