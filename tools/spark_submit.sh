#!/bin/bash
# Canonical spark-submit invocation (north rule: "run via spark-submit on
# a multi-executor cluster"). Locally: --master local[N]; on a real
# cluster swap --master / add executor settings — the jar is self-
# contained against the Spark 4.1 runtime.
#
#   tools/spark_submit.sh graft.Bench
#   tools/spark_submit.sh graft.Verify /root/testdata/sf0.01 /tmp/out
#   tools/spark_submit.sh graft.ScalingBench <out.json>
set -e
cd "$(dirname "$0")/.."
CLASS=${1:?usage: spark_submit.sh <mainClass> [args...]}; shift
sbt -batch package > /dev/null
exec /opt/spark/bin/spark-submit \
  --master "${SPARK_MASTER:-local[${SPARK_GRAFT_CPUS:-32}]}" \
  --driver-memory "${SPARK_DRIVER_MEM:-8g}" \
  --conf spark.ui.enabled=false \
  --conf spark.network.timeout=600s \
  --conf spark.executor.heartbeatInterval=60s \
  --class "$CLASS" \
  target/scala-2.13/earthwyrmspark_2.13-0.1.0.jar "$@"
