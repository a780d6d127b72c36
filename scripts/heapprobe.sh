#!/bin/bash
# Constrained-heap resilience probe: run the heaviest queries at 30x
# under a deliberately small driver/executor heap (default 4g — the
# reference's production executor size, spark_config.sh.sample:6) and
# record finish-vs-OOM per query. Runs ProbeOne via plain `java` against
# the compiled classes dir, so it never takes the sbt project lock
# (compile first: sbt compile). Usage:
#   scripts/heapprobe.sh <sfDir> [heap] [query...]
set -u
cd "$(dirname "$0")/.."
DIR=${1:-/tmp/benchdata/sf3}
HEAP=${2:-4g}
shift 2 2>/dev/null || shift $# 2>/dev/null
QUERIES=${@:-"q189_stream_interval_join q125_dimsum_exact q80_als_recommend \
q139_incremental_neardup q145_dup_clusters q148_curation_pipeline \
q191_triangles q100_top_missed q179_bigram_hashed q101_similar_users"}
. scripts/jvm.sh
for q in $QUERIES; do
  t0=$(date +%s)
  out=$(timeout 2400 "${GRAFT_JAVA[@]}" -Xmx$HEAP \
    graft.ProbeOne "$q" "$DIR" 2>&1)
  rc=$?
  dt=$(( $(date +%s) - t0 ))
  line=$(echo "$out" | grep -oE "$q [^ ]+: [0-9.]+ s" | tail -1)
  if [ -n "$line" ]; then
    echo "OK   $HEAP $line (wall ${dt}s)"
  elif echo "$out" | grep -q "OutOfMemoryError"; then
    echo "OOM  $HEAP $q (wall ${dt}s)"
  elif [ $rc -eq 124 ]; then
    if echo "$out" | grep -q "OutOfMemoryError"; then
      echo "TIMEOUT+OOM $HEAP $q"
    else
      echo "TIMEOUT $HEAP $q (no OOM — CPU/spill-bound)"
    fi
  else
    echo "FAIL $HEAP $q rc=$rc ($(echo "$out" | grep -m1 -oE 'Exception[^;]{0,100}'))"
  fi
done
