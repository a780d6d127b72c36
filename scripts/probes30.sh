#!/bin/bash
# 30x scale probes for registry queries via plain java (no sbt lock).
# Usage: scripts/probes30.sh <sfDir> <query...>
set -u
cd "$(dirname "$0")/.."
DIR=$1; shift
HEAP=${SPARK_DRIVER_MEM:-8g}
# scale-probe scratch stays on disk, not the bench-scale tmpfs default
# (ledger.sh has the full rationale)
export SPARK_GRAFT_WORK_DIR=${SPARK_GRAFT_WORK_DIR:-/tmp}
. scripts/jvm.sh
for q in "$@"; do
  out=$(timeout 2400 "${GRAFT_JAVA[@]}" -Xmx$HEAP \
    graft.ProbeOne "$q" "$DIR" 2>&1)
  line=$(echo "$out" | grep -oE "$q [^ ]+: [0-9.]+ s" | tail -1)
  [ -n "$line" ] && echo "$line" || echo "FAIL $q ($(echo "$out" | grep -m1 -oE 'Error[^;]{0,80}|Exception[^;]{0,80}'))"
done
