#!/bin/bash
# Standing scale-rung ritual — reproduces the recorded BENCH_NOTES rung
# tables instead of leaving them one-off numbers (r16).
#
#   tools/rung_bench.sh [sfdir]          (default /root/testdata/sf0.1)
#
# Produces, on a QUIET box:
#   1. graph/dedup family x8 rungs   (Dev bench-one, min of 3, shared corpus)
#   2. warehouse-layout family rungs (Dev bench-one on the --layout corpus,
#      orders+lineitem multiplied with one shared orderkey stride)
#   3. q204 bar-vs-path split        (ColdPublish / ColdDelta, fresh
#      JVM per process, untimed-probe timed windows)
#
# Each section prints "RUNG <name> <sf0.1-min> <x8-min>" lines; diff
# them against the BENCH_NOTES tables before recording a new round.
# Run AFTER round_gate (reuses /tmp/stress_x8 when present).
set -euo pipefail
cd "$(dirname "$0")/.."

SF=${1:-/root/testdata/sf0.1}
CPUS=${SPARK_GRAFT_CPUS:-28}

[ -d /tmp/stress_x8 ] || python3 tools/make_stress.py "$SF" /tmp/stress_x8 8
[ -d /tmp/stress_layout_x8 ] || \
  python3 tools/make_stress.py "$SF" /tmp/stress_layout_x8 8 --layout

# min of 3 Dev bench-one sweeps for the listed queries; q14 absorbs the
# session cold start (untimed by position, discarded from output)
bench_min() { # bench_min <dir> <mem> <queries...>
  local dir=$1 mem=$2; shift 2
  for i in 1 2 3; do
    SPARK_DRIVER_MEM=$mem SPARK_GRAFT_CPUS=$CPUS \
      ./run-class.sh graft.Dev bench-one "$dir" q14_topk "$@" 2>/dev/null |
      grep "^TIMING " | grep -v " q14_topk "
  done | awk '{ if (!($2 in m) || $3 < m[$2]) m[$2] = $3 }
              END { for (q in m) print "RUNG", q, m[q] }' | sort
}

GRAPH="q191_incremental_dedup q198_incremental_graph_insert \
q202_graph_retraction q204_cold_incremental_dedup q207_cold_graph_insert"
LAYOUT="q192_zorder_write_read q203_zorder_maintenance \
q211_layout_optimize q212_bucketed_catalog_read"

echo "=== graph/dedup family: $SF ==="
bench_min "$SF" 40g $GRAPH
echo "=== graph/dedup family: x8 ==="
bench_min /tmp/stress_x8 80g $GRAPH

echo "=== layout family: $SF ==="
bench_min "$SF" 40g $LAYOUT
echo "=== layout family: layout-x8 ==="
bench_min /tmp/stress_layout_x8 80g $LAYOUT

echo "=== q204 split: bar (ColdPublish) vs path (ColdDelta) ==="
for dir in "$SF" /tmp/stress_x8; do
  store=$(mktemp -d /tmp/rung_store.XXXXXX)
  SPARK_DRIVER_MEM=80g SPARK_GRAFT_CPUS=$CPUS \
    ./run-class.sh graft.ColdPublish "$dir" "$store" 2>/dev/null |
    grep '"metric"' | sed "s|^|BAR  $dir |"
  for i in 1 2 3; do
    SPARK_DRIVER_MEM=80g SPARK_GRAFT_CPUS=$CPUS \
      ./run-class.sh graft.ColdDelta "$dir" "$store" 2>/dev/null |
      grep '"metric"'
  done | sed 's/.*"value":\([0-9.]*\).*/\1/' |
    sort -g | head -1 | sed "s|^|PATH $dir min-of-3: |"
  rm -rf "$store"
done
