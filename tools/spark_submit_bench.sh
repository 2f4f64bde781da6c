#!/usr/bin/env bash
# North-rule launch shape: spark-submit at N and 4N parallelism.
# Local sandbox evidence: local[N] / local[4N] on the same input
# (no real cluster here, per driver instruction). On a real cluster:
#   spark-submit --num-executors $N  --class graft.Bench ganonspark.jar
# Defaults fit the box it runs on: every CPU (`nproc`), and half of
# MemTotal clamped to 2-8 GB for the driver. SPARK_GRAFT_CPUS and
# SPARK_DRIVER_MEM override them.
set -euo pipefail
cd "$(dirname "$0")/.."
CPUS="${SPARK_GRAFT_CPUS:-$(nproc)}"
MEM="${SPARK_DRIVER_MEM:-$(awk '/^MemTotal:/ {g = int($2 / 2097152)}
  END {print (g < 2 ? 2 : g > 8 ? 8 : g) "g"}' /proc/meminfo 2>/dev/null || echo 2g)}"
sbt -batch package >/dev/null
JAR=target/scala-2.13/ganonspark_2.13-0.1.0.jar
exec /opt/spark/bin/spark-submit \
  --master "local[$CPUS]" \
  --driver-memory "$MEM" \
  --conf spark.sql.shuffle.partitions="$CPUS" \
  --conf spark.ui.enabled=false \
  --class graft.Bench "$JAR"
