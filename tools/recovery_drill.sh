#!/usr/bin/env bash
# Executor-loss recovery drill (VERDICT r11 item 3).
#
# Runs graft.RecoveryDrill twice on a MULTI-PROCESS local-cluster
# (2 standalone executor JVMs — the reference's own deployment shape):
#
#   leg A (baseline): reliable checkpointing on, undisturbed;
#   leg B (kill):     same, but one executor JVM is kill -9'd as soon
#                     as the first reliable checkpoint lands (i.e.
#                     mid-loop). The standalone master relaunches the
#                     executor and the loop must finish with the SAME
#                     canonical result hash.
#
# Optional leg C (--with-local-ckpt-control): repeats the kill with the
# knob OFF (localCheckpoint). Executor-stored blocks die with the JVM
# and their lineage is truncated, so this leg is EXPECTED to fail —
# recorded, not asserted, because Spark may finish if the victim held
# no still-needed blocks.
#
# Usage: tools/recovery_drill.sh [sfDir] [query]
#   sfDir  default /root/repo/scaledata/sf1
#   query  default k9_wcc
#
# The query must stage its loop through Ckpt.stage. k1_scc does not: its
# SCC loop keeps its vertex state on the driver and writes no checkpoint
# file, so a k1_scc drill fails with "checkpoint never observed".
#
# Output: tools/recovery_drill_out/{baseline,kill}.json + PASS/FAIL on
# stdout. Exit 0 iff both legs completed with identical hashes.
set -euo pipefail

cd "$(dirname "$0")/.."
SF_DIR="${1:-/root/repo/scaledata/sf1}"
QUERY="${2:-k9_wcc}"
OUT=tools/recovery_drill_out
MASTER="local-cluster[2,8,6144]"
export SPARK_HOME=/opt/spark

mkdir -p "$OUT"
rm -f "$OUT"/baseline.json "$OUT"/kill.json "$OUT"/control.json

echo "[drill] packaging..."
sbt -batch package -warn >/dev/null
JAR=$(ls target/scala-2.13/*.jar | grep -v -- '-tests' | head -1)

submit() { # $1=ckpt_dir_or_empty $2=outfile; extra conf via $3...
  local ckpt="$1" out="$2"; shift 2
  local -a conf=(
    --master "$MASTER"
    --conf spark.cleaner.referenceTracking.cleanCheckpoints=true
    --conf spark.sql.shuffle.partitions=32
    --conf spark.executor.memory=5g
    --conf spark.driver.memory=6g
  )
  if [[ -n "$ckpt" ]]; then
    conf+=(--conf "spark.driver.extraJavaOptions=-Dgraft.reliable.ckpt=$ckpt")
  fi
  "$SPARK_HOME/bin/spark-submit" "${conf[@]}" "$@" \
    --class graft.RecoveryDrill "$JAR" "$SF_DIR" "$out" "$QUERY"
}

# ---- leg A: baseline (reliable ckpt, undisturbed) --------------------
CKPT_A=$(mktemp -d /tmp/graft_drill_ckpt_A.XXXX)
echo "[drill] leg A (baseline) on $MASTER, ckpt=$CKPT_A"
T_A0=$SECONDS
submit "$CKPT_A" "$OUT/baseline.json" >"$OUT/baseline.log" 2>&1
T_A=$((SECONDS - T_A0))
rm -rf "$CKPT_A"

# ---- leg B: kill one executor once the first checkpoint lands --------
CKPT_B=$(mktemp -d /tmp/graft_drill_ckpt_B.XXXX)
echo "[drill] leg B (kill) on $MASTER, ckpt=$CKPT_B"
T_B0=$SECONDS
submit "$CKPT_B" "$OUT/kill.json" >"$OUT/kill.log" 2>&1 &
DRIVER_PID=$!

KILLED=""
for _ in $(seq 1 600); do # up to 10 min
  if ! kill -0 "$DRIVER_PID" 2>/dev/null; then break; fi
  # "first checkpoint landed" = any part- file under the ckpt dir:
  # the loop is mid-flight and at least one round is durably staged
  if [[ -z "$KILLED" ]] && \
     find "$CKPT_B" -name 'part-*' -type f 2>/dev/null | grep -q .; then
    # executor JVMs of THIS app only: scope pgrep to the app id from
    # the driver log — a host-wide CoarseGrainedExecutorBackend match
    # could kill -9 an unrelated Spark job's executor
    APPID=$(grep -o 'app-[0-9]*-[0-9]*' "$OUT/kill.log" 2>/dev/null | head -1 || true)
    if [[ -n "$APPID" ]]; then
      VICTIM=$(pgrep -f "CoarseGrainedExecutorBackend.*$APPID" | head -1 || true)
      if [[ -n "$VICTIM" ]]; then
        echo "[drill] killing executor JVM pid=$VICTIM (app $APPID)"
        kill -9 "$VICTIM" || true
        KILLED=$VICTIM
      fi
    fi
  fi
  sleep 1
done
# a hung kill leg (the failure mode an executor kill can induce) must
# FAIL, not hang the script on an untimed wait
if kill -0 "$DRIVER_PID" 2>/dev/null; then
  echo "[drill] FAIL: kill leg still running after 10 min — terminating"
  kill -9 "$DRIVER_PID" 2>/dev/null || true
  wait "$DRIVER_PID" 2>/dev/null || true
  exit 1
fi
wait "$DRIVER_PID" || { echo "[drill] FAIL: kill leg did not complete"; exit 1; }
T_B=$((SECONDS - T_B0))
rm -rf "$CKPT_B"
if [[ -z "$KILLED" ]]; then
  echo "[drill] FAIL: no executor was killed (checkpoint never observed)"
  exit 1
fi

# ---- compare ---------------------------------------------------------
HA=$(sed -n 's/.*"hash":"\([0-9a-f]*\)".*/\1/p' "$OUT/baseline.json")
HB=$(sed -n 's/.*"hash":"\([0-9a-f]*\)".*/\1/p' "$OUT/kill.json")
echo "[drill] baseline: $(cat "$OUT/baseline.json")"
echo "[drill] kill:     $(cat "$OUT/kill.json")"
echo "[drill] wall: baseline=${T_A}s kill=${T_B}s (recovery overhead includes executor relaunch)"
if [[ -n "$HA" && "$HA" == "$HB" ]]; then
  echo "[drill] PASS: identical hashes across executor loss"
else
  echo "[drill] FAIL: hash mismatch baseline=$HA kill=$HB"
  exit 1
fi

# ---- optional leg C: control with the knob OFF -----------------------
if [[ "${3:-}" == "--with-local-ckpt-control" ]]; then
  echo "[drill] leg C (control: localCheckpoint, kill) — expected to fail"
  submit "" "$OUT/control.json" >"$OUT/control.log" 2>&1 &
  CPID=$!
  sleep 8
  CAPP=$(grep -o 'app-[0-9]*-[0-9]*' "$OUT/control.log" 2>/dev/null | head -1 || true)
  V=""
  [[ -n "$CAPP" ]] && V=$(pgrep -f "CoarseGrainedExecutorBackend.*$CAPP" | head -1 || true)
  [[ -n "$V" ]] && kill -9 "$V" || true
  if wait "$CPID"; then
    echo "[drill] control COMPLETED (victim held no needed blocks) — recorded"
  else
    echo "[drill] control FAILED as expected (local blocks unrecoverable)"
  fi
fi
