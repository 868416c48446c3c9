#!/bin/bash
# Round-5 scaling protocol session: KG pairs + dedup pairs + 16N context run
# + sf0.1 bench capture. Run EXCLUSIVELY (no concurrent Spark/sbt work).
set -u
cd /root/repo
TS=$(date -u +%Y%m%dT%H%M%SZ)
LOG=bench_logs/round5_scaling_${TS}.log
steal() { # avg stolen cores over $1 seconds
  local d=${1:-10}
  local s1 s2
  s1=$(awk '/^cpu /{print $9}' /proc/stat); sleep "$d"
  s2=$(awk '/^cpu /{print $9}' /proc/stat)
  awk -v a="$s1" -v b="$s2" -v d="$d" 'BEGIN{printf "%.2f", (b-a)/100/d}'
}
{
echo "== round-5 scaling protocol session $(date -u) =="

echo "--- staging dedup corpus (600k docs, untimed) ---"
sbt -batch "runMain graft.ScalingBench stage-dedup /tmp/graft_docs 600000" 2>&1 | grep '"staged"'

echo "pre-check steal (60s):"
PRE=$(steal 60)
echo "steal_pre=$PRE"
if awk -v p="$PRE" 'BEGIN{exit !(p>=0.5)}'; then
  echo "GATE FAILED (steal >= 0.5) — aborting session"
  exit 1
fi

for i in 1 2 3 4; do
  echo "--- KG pair $i ---"
  echo "pair${i} steal_before=$(steal 10)"
  sbt -batch "runMain graft.ScalingBench run /tmp/graft_pages 2" 2>&1 | grep '"level"'
  sbt -batch "runMain graft.ScalingBench run /tmp/graft_pages 8" 2>&1 | grep '"level"'
  echo "pair${i} steal_after=$(steal 10)"
done

for i in 1 2 3 4; do
  echo "--- dedup pair $i ---"
  echo "dpair${i} steal_before=$(steal 10)"
  sbt -batch "runMain graft.ScalingBench run-dedup /tmp/graft_docs 2" 2>&1 | grep '"level"'
  sbt -batch "runMain graft.ScalingBench run-dedup /tmp/graft_docs 8" 2>&1 | grep '"level"'
  echo "dpair${i} steal_after=$(steal 10)"
done

echo "--- 16N context run (local[32]) ---"
echo "ctx steal_before=$(steal 10)"
sbt -batch "runMain graft.ScalingBench run /tmp/graft_pages 32" 2>&1 | grep '"level"'
echo "ctx steal_after=$(steal 10)"

echo "--- sf0.1 bench capture local[32] fresh JVM ---"
SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 SPARK_GRAFT_CPUS=32 \
  sbt -batch "runMain graft.Bench" 2>&1 | grep '"metric"'

echo "== session done $(date -u) =="
} >> "$LOG" 2>&1
echo "$LOG"
