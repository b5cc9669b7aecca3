#!/bin/bash
# Run a graft main directly on the compiled classes (bypasses the sbt lock;
# build.sbt's forked-JVM flags reproduced). The classes come from the
# checkout this script lives in, so a second checkout runs its own build.
# Usage:
#   SPARK_GRAFT_ONLY=q128 SPARK_GRAFT_BENCH_OUT=/tmp/bench.json \
#     tools/run_main.sh graft.Bench
# Env: SPARK_DRIVER_MEM (default 8g), SPARK_GRAFT_* as usual.
set -e
ROOT="$(cd "$(dirname "${BASH_SOURCE[0]}")/.." && pwd)"
OPENS=""
for p in java.lang java.lang.invoke java.lang.reflect java.io java.net \
         java.nio java.util java.util.concurrent java.util.concurrent.atomic; do
  OPENS="$OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
for p in sun.nio.ch sun.nio.cs sun.security.action sun.util.calendar; do
  OPENS="$OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
exec java $OPENS \
  -Dspark.ui.enabled=false -Dspark.sql.session.timeZone=UTC \
  -Xmx"${SPARK_DRIVER_MEM:-8g}" \
  -cp "$ROOT/target/scala-2.13/classes:/opt/spark/jars/*" "$@"
