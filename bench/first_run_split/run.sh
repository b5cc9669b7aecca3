#!/bin/bash
# One cold day run of the driver with Spark's event log on, split into
# phases by split.py. Run from this directory after `sbt compile`.
# Usage: GRAFT_CLASSES=<program classes> ./run.sh <spans.parquet> <day> <cap> <run dir>
set -e
IN=$1; DAY=$2; CAP=$3; D=$4
rm -rf "$D"; mkdir -p "$D/events"
OPENS=""
for p in java.lang java.lang.invoke java.lang.reflect java.io java.net java.nio java.util \
  java.util.concurrent java.util.concurrent.atomic sun.nio.ch sun.nio.cs sun.security.action \
  sun.util.calendar; do
  OPENS="$OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
java $OPENS -Xmx3g -Dspark.ui.enabled=false -Dspark.sql.session.timeZone=UTC \
  -Dspark.eventLog.enabled=true -Dspark.eventLog.dir="file:$D/events" \
  -Dspark.eventLog.compress=false -Dspark.local.dir="$D/local" -Djava.io.tmpdir="$D" \
  -cp "target/scala-2.13/classes:$GRAFT_CLASSES:${SPARK_HOME:-/opt/spark}/jars/*" \
  FirstRunSplit "$IN" "$DAY" "$CAP" "$D/links" "$D/marks.json" > "$D/stdout" 2> "$D/stderr"
python3 split.py "$D/marks.json" "$(ls "$D"/events/*/events_* | head -1)"
