#!/bin/bash
# Two-parallelism scaling evidence (BASELINE.md protocol): interleaved
# local[8]/local[32] runs of graft.tools.ScalingBench on one prepped graph,
# min-over-runs estimator, /proc/stat steal deltas logged per run. A run is
# "clean" iff its steal_delta <= 1000 jiffies; declare any other censoring
# threshold before measuring.
#
# Usage: scripts/scaling.sh [graph_dir] [log] [pairs] [algos]
#   graph_dir  prepped graph; prepped on first use (default /tmp/scale_graph)
#   log        JSON-lines output, appended (default /tmp/scaling.jsonl)
#   pairs      interleaved 8/32-core pairs per algorithm (default 4)
#   algos      comma-separated algo[:iters] list (default scan_derive:3);
#              algos: pagerank pagerank_packed cc triangles scan_derive;
#              iters default to 3 for scan_derive and 12 otherwise
#
# Keep the log as scripts/scaling_<tag>_raw.jsonl when it backs a figure in
# BENCH/BASELINE.md.
set -u
cd "$(dirname "$0")/.."
export SPARK_DRIVER_MEM=${SPARK_DRIVER_MEM:-96g}
export SPARK_LOCAL_DIRS=${SPARK_LOCAL_DIRS:-/dev/shm/graft-shuffle}
export SPARK_GRAFT_SCAN_CONVS=${SPARK_GRAFT_SCAN_CONVS:-28000000}
GRAPH=${1:-/tmp/scale_graph}
LOG=${2:-/tmp/scaling.jsonl}
PAIRS=${3:-4}
ALGOS=${4:-scan_derive:3}

steal() { awk '/^cpu /{print $9}' /proc/stat; }

run_one() { # cores iters algo
  local c=$1 iters=$2 algo=$3
  local s0 s1 t0 t1
  s0=$(steal); t0=$(date +%s)
  sbt -batch "runMain graft.tools.ScalingBench run $c $GRAPH $iters $algo" 2>/dev/null \
    | grep -a '"mode"' | sed 's/^\[info\] //' >> "$LOG"
  s1=$(steal); t1=$(date +%s)
  echo "{\"meta\":\"steal\",\"algo\":\"$algo\",\"cores\":$c,\"steal_delta\":$((s1 - s0)),\"wall_total\":$((t1 - t0))}" >> "$LOG"
}

if [ ! -d "$GRAPH/edges" ]; then
  s0=$(steal); t0=$(date +%s)
  sbt -batch "runMain graft.tools.ScalingBench prep 28000000 $GRAPH 32" 2>/dev/null \
    | grep -a '"mode"' | sed 's/^\[info\] //' >> "$LOG"
  s1=$(steal); t1=$(date +%s)
  echo "{\"meta\":\"steal\",\"algo\":\"prep\",\"steal_delta\":$((s1 - s0)),\"wall_total\":$((t1 - t0))}" >> "$LOG"
fi

for spec in ${ALGOS//,/ }; do
  algo=${spec%%:*}
  if [ "$spec" != "$algo" ]; then iters=${spec#*:}
  elif [ "$algo" = scan_derive ]; then iters=3
  else iters=12
  fi
  for i in $(seq 1 "$PAIRS"); do
    run_one 8 "$iters" "$algo"
    run_one 32 "$iters" "$algo"
  done
done

echo '{"meta":"done"}' >> "$LOG"
