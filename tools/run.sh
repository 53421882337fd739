#!/bin/bash
# Run a graft main class directly against the compiled sbt output,
# bypassing sbt's forked-run log wrapping. Usage:
#   tools/run.sh graft.Verify /root/testdata/sf0.01 /tmp/vout
#   SPARK_GRAFT_SF_DIR=... tools/run.sh graft.Bench
ADD_OPENS=""
for p in java.lang java.lang.invoke java.lang.reflect java.io java.net \
         java.nio java.util java.util.concurrent java.util.concurrent.atomic; do
  ADD_OPENS="$ADD_OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
for p in sun.nio.ch sun.nio.cs sun.security.action sun.util.calendar; do
  ADD_OPENS="$ADD_OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
# the class dir of this checkout, plus src/main/resources: `sbt compile`
# does not copy the graft-table DataSourceRegister service file into it
ROOT="$(cd "$(dirname "$0")/.." && pwd)"
CP="$ROOT/target/scala-2.13/classes:$ROOT/src/main/resources:/opt/spark/jars/*"
# GRAFT_JVM_OPTS: optional extra -D flags (e.g. graft.tables.stage.disable)
exec java $ADD_OPENS $GRAFT_JVM_OPTS \
  -Dspark.ui.enabled=false \
  -Dspark.sql.session.timeZone=UTC \
  -Duser.timezone=UTC \
  -Xmx"${SPARK_DRIVER_MEM:-8g}" \
  -cp "$CP" "$@"
