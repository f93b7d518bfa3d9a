#!/usr/bin/env bash
# spark-submit entry point for the graft pipeline (north-rule run mode).
#
# Usage:
#   bin/spark-submit-pipeline.sh run --input <pages.parquet> --output <dir> [...]
#                                                 # production pipeline (graft.Main;
#                                                 #  all graft.Main flags pass through)
#   bin/spark-submit-pipeline.sh bench            # Bench JSON (query timings)
#   bin/spark-submit-pipeline.sh verify SF OUT    # correctness dump
#
# On a real cluster swap --master local[*] for the cluster master and drop
# nothing else: the code never assumes local mode (all parallelism comes from
# spark.sql.shuffle.partitions / defaultParallelism).
set -euo pipefail
cd "$(dirname "$0")/.."

JAR=$(ls target/scala-2.13/duplicatefinderspark_2.13-*.jar 2>/dev/null | head -1 || true)
if [ -z "$JAR" ]; then
  echo "building jar..." >&2
  sbt -batch package > /dev/null
  JAR=$(ls target/scala-2.13/duplicatefinderspark_2.13-*.jar | head -1)
fi

MODE="${1:-bench}"
case "$MODE" in
  run)    CLASS=graft.Main;       shift || true ;;
  bench)  CLASS=graft.Bench;      shift || true ;;
  verify) CLASS=graft.Verify;     shift || true ;;
  *) echo "unknown mode $MODE" >&2; exit 2 ;;
esac

exec /opt/spark/bin/spark-submit \
  --master "local[${SPARK_GRAFT_CPUS:-$(nproc)}]" \
  --driver-memory "${SPARK_DRIVER_MEM:-48g}" \
  --conf spark.sql.shuffle.partitions="${SPARK_GRAFT_CPUS:-$(nproc)}" \
  --conf spark.sql.adaptive.enabled=true \
  --conf spark.local.dir=/dev/shm/graft-spark-tmp \
  --conf spark.ui.enabled=false \
  --class "$CLASS" \
  "$JAR" "$@"
