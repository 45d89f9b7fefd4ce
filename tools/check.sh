#!/usr/bin/env bash
# Local correctness loop: compile, run graft.Verify, compare against DuckDB.
# Usage: tools/check.sh [sfDir] [pattern]
set -euo pipefail
cd "$(dirname "$0")/.."
SF_DIR="${1:-/root/testdata/sf0.01}"
PATTERN="${2:-}"
OUT=/tmp/graft_verify
rm -rf "$OUT"
sbt -batch compile 1>&2
ADD_OPENS=""
for p in java.lang java.lang.invoke java.lang.reflect java.io java.net \
         java.nio java.util java.util.concurrent java.util.concurrent.atomic; do
  ADD_OPENS="$ADD_OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
for p in sun.nio.ch sun.nio.cs sun.security.action sun.util.calendar; do
  ADD_OPENS="$ADD_OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
# GRAFT_EXTRA_JAVA_OPTS: hostile-mode sweeps, e.g.
#   GRAFT_EXTRA_JAVA_OPTS="-Dspark.sql.codegen.wholeStage=false \
#     -Dspark.sql.codegen.factoryMode=NO_CODEGEN" tools/check.sh ...
# runs the whole differential with codegen off (interpreted expressions).
# SPARK_GRAFT_MASTER: alternative master — real-serialization mode:
#   SPARK_GRAFT_MASTER='local-cluster[2,4,4096]' SPARK_HOME=/opt/spark \
#     SPARK_SCALA_VERSION=2.13 SPARK_GRAFT_CPUS=8 tools/check.sh ...
# forks 2 executor JVMs (4 cores / 4 GiB each) so every custom
# Expression/Aggregator/broadcast actually crosses a process boundary
# (SPARK_SCALA_VERSION is needed by the executor launcher's classpath
# resolution; HarnessSession adds the sbt classes dir to executor classpaths).
java $ADD_OPENS -Xmx8g ${GRAFT_EXTRA_JAVA_OPTS:-} \
  -Dspark.ui.enabled=false -Dspark.sql.session.timeZone=UTC \
  -cp "/opt/spark/jars/*:target/scala-2.13/classes" \
  graft.Verify "$SF_DIR" "$OUT" "$PATTERN" 1>&2
# Oracle-type lint is a deliberate fail-fast gate (a HUGEINT-summing or
# DESCRIBE-erroring oracle would make the compare below lie), but its
# failure must be unmistakable: without the marker, the last stdout line
# is the lint's own tally and a sweep/tail -1 reader could mistake it
# for a differential verdict.
if ! python3 tools/oracle_types.py "$SF_DIR" "$OUT/oracle_sql.json"; then
  echo "== ORACLE LINT FAILED — differential compare NOT run"
  exit 1
fi
python3 tools/compare.py "$SF_DIR" "$OUT" "$PATTERN"
