#!/usr/bin/env bash
# Run the graft benchmark (or any graft main) through spark-submit — the
# cluster deployment path of the north rule. On a real cluster replace
# --master local[N] with your cluster master and add executor sizing, e.g.
#   --master yarn --num-executors $N --executor-cores 4 --executor-memory 8g
# Run at N and 4N executors on the same input for the scaling-efficiency
# evidence (see BENCH.md).
set -euo pipefail
CPUS="${SPARK_GRAFT_CPUS:-8}"
# Default matches a realistic per-executor heap.
DRIVER_MEM="${SPARK_GRAFT_DRIVER_MEM:-8g}"
JAR="$(dirname "$0")/../target/scala-2.13/graphxspark_2.13-0.1.0.jar"
CLASS="${1:-graft.Bench}"
shift || true
exec /opt/spark/bin/spark-submit \
  --master "local[$CPUS]" \
  --driver-memory "$DRIVER_MEM" \
  --conf spark.ui.enabled=false \
  --conf spark.sql.shuffle.partitions=$((2 * CPUS)) \
  --conf spark.sql.adaptive.enabled=true \
  --conf spark.sql.join.preferSortMergeJoin=false \
  --class "$CLASS" "$JAR" "$@"
