#!/bin/bash
# Run graft.Bench directly with java (no sbt startup): one invocation, one
# JSON line on stdout. Env: SPARK_GRAFT_SF_DIR, SPARK_GRAFT_CPUS. Usage:
#   scripts/bench_run.sh [outfile]
# Compile first with `sbt compile`.
cd "$(dirname "$0")/.." || exit 1
OUT="${1:-/dev/stdout}"
ADD_OPENS=""
for p in java.lang java.lang.invoke java.lang.reflect java.io java.net \
         java.nio java.util java.util.concurrent java.util.concurrent.atomic; do
  ADD_OPENS="$ADD_OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
for p in sun.nio.ch sun.nio.cs sun.security.action sun.util.calendar; do
  ADD_OPENS="$ADD_OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
exec java $ADD_OPENS -Xmx"${SPARK_DRIVER_MEM:-8g}" \
  -Dspark.ui.enabled=false -Dspark.sql.session.timeZone=UTC \
  -cp "target/scala-2.13/classes:/opt/spark/jars/*" \
  graft.Bench > "$OUT"
