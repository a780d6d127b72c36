#!/bin/bash
# Heavy-query probes under REAL executor JVMs: local-cluster[2,4,4096]
# (two workers x 4 cores x 4096 MB), the round-10 real-serialization
# tier. This is the adjudication harness for executor-memory machinery
# (StateTable.pin/regime block math, out-of-core triangle close, KCore
# release, MinHash verify widths) whose behavior local[n] structurally cannot
# test: real closure serialization, torrent broadcast, off-heap
# exchange, per-executor storage/execution pools.
#
# Usage: scripts/probecluster.sh <sfDir> <query...>
#   SPARK_GRAFT_TIMEOUT (default 3600 s) bounds each probe.
#   NOTE the memory contract: local-cluster[2,4,4096]'s third arg is the
#   WORKER's allocatable pool (MB); the executor JVM heap comes from
#   spark.executor.memory (Spark default: 1g!). Round 11 found the
#   "4 GiB executor" tier silently running -Xmx1024M executors this way
#   — set spark.executor.memory explicitly (done below, 4g).
#   Executors get the compiled classes via spark.executor.extraClassPath;
#   SPARK_SCALA_VERSION=2.13 is required for the release-layout worker
#   launcher. One probe at a time (same poisoning rule as ledger.sh).
set -u
cd "$(dirname "$0")/.."
DIR=$1; shift
TIMEOUT=${SPARK_GRAFT_TIMEOUT:-3600}
. scripts/jvm.sh
for q in "$@"; do
  # WIDTH=32 (not the 8 cores): shuffle width sets per-task bytes and
  # thereby session-width pinned block sizes — width 8 re-fused 30×
  # frames into ~135 MB blocks whose re-read OOMed the 4 GiB executors
  # (q220/q210/q191/q217, round 11); width is a data knob, cores a
  # throughput knob, same as any production submit.
  out=$(SPARK_HOME=/opt/spark SPARK_SCALA_VERSION=2.13 \
    SPARK_GRAFT_MASTER="local-cluster[2,4,4096]" SPARK_GRAFT_CPUS=8 \
    SPARK_GRAFT_WIDTH=${SPARK_GRAFT_WIDTH:-32} \
    timeout "$TIMEOUT" "${GRAFT_JAVA[@]}" -Xmx8g \
    -Dspark.executor.memory=4g \
    -Dspark.executor.extraClassPath="$PWD/target/scala-2.13/classes" \
    -Dspark.executor.extraJavaOptions="-XX:+UnlockDiagnosticVMOptions -XX:GCLockerRetryAllocationCount=64" \
    graft.ProbeOne "$q" "$DIR" 2>&1)
  rc=$?
  line=$(echo "$out" | grep -oE "$q [^ ]+: [0-9.]+ s" | tail -1)
  if [ -n "$line" ]; then echo "$line"
  elif [ $rc = 124 ]; then echo "TIMEOUT $q (${TIMEOUT}s)"
  else echo "FAIL $q rc=$rc ($(echo "$out" | grep -m1 -oE \
    'OutOfMemoryError[^;]{0,60}|Error[^;]{0,60}|Exception[^;]{0,60}'))"
  fi
done
