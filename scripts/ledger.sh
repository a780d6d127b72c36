#!/bin/bash
# Registry-wide scale ledger: run EVERY headline registry query once at
# <sfDir> in its own JVM and record one row per query — pass time or
# failure class — so a q182-style cliff (sibling passes, member fails)
# cannot hide in an unprobed tail. verifyOnly rows are recorded as
# SKIP(verifyOnly): their cost is the oracle's by construction.
#
# Usage: scripts/ledger.sh <sfDir> <ledgerFile> [query...]
#   - resumable: names already present in <ledgerFile> are skipped, so an
#     interrupted sweep continues where it stopped.
#   - one probe at a time on purpose: concurrent probes poison each other
#     (disk-full + checksum FileNotFound neighbors — round-10 finding).
#   - SPARK_GRAFT_NOWARMUP=1: ledger mode is pass/fail + coarse time
#     (one execution, startup included), NOT the isolated adjudication
#     protocol; re-probe interesting rows with probes30.sh.
set -u
cd "$(dirname "$0")/.."
DIR=$1; LEDGER=$2; shift 2
HEAP=${SPARK_DRIVER_MEM:-8g}
# Scale probes write corpus-proportional scratch (staged state, chunk
# partials) — keep it OFF the RAM-backed tmpfs default TempWork prefers
# for bench-scale runs (round 14): a 100x probe's tens-of-GB scratch
# belongs on disk. Override by exporting SPARK_GRAFT_WORK_DIR yourself.
export SPARK_GRAFT_WORK_DIR=${SPARK_GRAFT_WORK_DIR:-/tmp}
TIMEOUT=${SPARK_GRAFT_TIMEOUT:-2400}
. scripts/jvm.sh
touch "$LEDGER"

if [ $# -gt 0 ]; then NAMES=$(printf '%s headline\n' "$@")
else NAMES=$("${GRAFT_JAVA[@]}" graft.ProbeNames 2>/dev/null | sort); fi

echo "$NAMES" | while read -r q tier; do
  [ -z "$q" ] && continue
  grep -q "^$q " "$LEDGER" && continue
  if [ "$tier" = "verifyOnly" ]; then
    echo "$q SKIP(verifyOnly)" >> "$LEDGER"; continue
  fi
  out=$(SPARK_GRAFT_NOWARMUP=1 timeout "$TIMEOUT" \
    "${GRAFT_JAVA[@]}" -Xmx$HEAP graft.ProbeOne "$q" "$DIR" 2>&1)
  rc=$?
  line=$(echo "$out" | grep -oE "$q [^ ]+: [0-9.]+ s" | tail -1)
  if [ -n "$line" ]; then
    echo "$q OK $(echo "$line" | grep -oE '[0-9.]+ s$')" >> "$LEDGER"
  elif [ $rc = 124 ]; then
    echo "$q TIMEOUT(${TIMEOUT}s)" >> "$LEDGER"
  else
    reason=$(echo "$out" | grep -m1 -oE \
      'OutOfMemoryError[^;]{0,60}|No space left[^;]{0,40}|Error[^;]{0,60}|Exception[^;]{0,60}' \
      | tr -d '\n')
    echo "$q FAIL rc=$rc ${reason:-unknown}" >> "$LEDGER"
  fi
done
# NOTE: a TIMEOUT row's JVM gets SIGTERM (shutdown hooks clean its
# scratch); a kill -9'd sweep can strand /tmp/blockmgr-* dirs — clean
# DEAD pids' dirs manually (verify liveness via /proc/<pid>/fd, not
# fuser/lsof — both missed an active JVM in round 10).
echo "ledger complete: $(grep -c ' OK ' "$LEDGER") OK /" \
  "$(grep -cE 'FAIL|TIMEOUT' "$LEDGER") fail /" \
  "$(grep -c 'SKIP' "$LEDGER") skip"
