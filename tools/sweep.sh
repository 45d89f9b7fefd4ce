#!/usr/bin/env bash
# Re-run the full SCALE.md invariance matrix at HEAD: nine hostile-mode
# differential sweeps, each expected to print "== 221 pass, 0 fail".
# Verify echoes the EFFECTIVE mode switches and session confs per run
# (an explicit -Dspark.* wins over every HarnessSession default, but trust
# the echo, not the flag: see the r9 note in SCALE.md).
# Usage: tools/sweep.sh [sfDir]   (default /root/testdata/sf0.01)
set -uo pipefail
cd "$(dirname "$0")/.."
SF="${1:-/root/testdata/sf0.01}"
run() {
  local label="$1"; shift
  echo "=== SWEEP $label start $(date +%T)"
  # a crashed leg (compile failure, OOM'd JVM, oracle lint) must print a
  # loud FAILED marker, not silently omit its RESULT line from the matrix
  local out rc
  out="$("$@" tools/check.sh "$SF" 2>/tmp/graft_sweep_err.log | tail -1)"
  rc=$?
  if [ "$rc" -ne 0 ]; then
    echo "=== SWEEP $label RESULT: FAILED (exit $rc) — see stderr log"
    tail -5 /tmp/graft_sweep_err.log | sed 's/^/    /'
  else
    echo "=== SWEEP $label RESULT: $out"
  fi
  grep "effective modes" /tmp/graft_sweep_err.log | head -1
}
run default        env
run aqe-off        env GRAFT_EXTRA_JAVA_OPTS="-Dspark.sql.adaptive.enabled=false"
run codegen-off    env GRAFT_EXTRA_JAVA_OPTS="-Dspark.sql.codegen.wholeStage=false -Dspark.sql.codegen.factoryMode=NO_CODEGEN"
run ansi-off       env GRAFT_EXTRA_JAVA_OPTS="-Dspark.sql.ansi.enabled=false"
run sort-typed-agg env GRAFT_EXTRA_JAVA_OPTS="-Dspark.sql.execution.useObjectHashAggregateExec=false"
run vec-reader-off env GRAFT_EXTRA_JAVA_OPTS="-Dspark.sql.parquet.enableVectorizedReader=false -Dspark.sql.orc.enableVectorizedReader=false"
# Memory-pressure axis: the spill paths a real 100 TB executor lives in.
# 2g heap (last -Xmx wins over check.sh's 8g) + execution/storage pool
# shrunk to 20% + force-spill thresholds low enough that sort, hash-agg
# fallback, window and SMJ buffers actually spill AND read back at
# sf0.01 (the thresholds are row-count-based, so tiny data still
# exercises the spill files) + shuffle partitions raised under the
# constrained heap.
run lowmem-spill   env GRAFT_EXTRA_JAVA_OPTS="-Xmx2g -Dspark.memory.fraction=0.2 -Dspark.shuffle.spill.numElementsForceSpillThreshold=2000 -Dspark.sql.windowExec.buffer.spill.threshold=512 -Dspark.sql.sortMergeJoinExec.buffer.spill.threshold=512 -Dspark.sql.objectHashAggregate.sortBased.fallbackThreshold=64 -Dspark.sql.shuffle.partitions=16"
run part7          env SPARK_GRAFT_CPUS=7
run local-cluster  env SPARK_GRAFT_MASTER='local-cluster[2,4,4096]' \
                       SPARK_HOME=/opt/spark SPARK_SCALA_VERSION=2.13 \
                       SPARK_GRAFT_CPUS=8
echo "=== SWEEP all done $(date +%T)"
