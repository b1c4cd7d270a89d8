#!/bin/bash
# Direct JVM runner for graft mains — same flags as build.sbt's forked
# run, but without the sbt launcher (no project lock, ~8 s less JVM
# startup per invocation). Usage: tools/jrun.sh <mainClass> [args...]
# Env passthrough: SPARK_GRAFT_SF_DIR, SPARK_GRAFT_CPUS, SPARK_DRIVER_MEM.
set -euo pipefail
# the classes of the checkout this script sits in
CLASSES="$(cd "$(dirname "${BASH_SOURCE[0]}")/.." && pwd)/target/scala-2.13/classes"
ADD_OPENS=""
for p in java.lang java.lang.invoke java.lang.reflect java.io java.net \
         java.nio java.util java.util.concurrent java.util.concurrent.atomic; do
  ADD_OPENS="$ADD_OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
for p in sun.nio.ch sun.nio.cs sun.security.action sun.util.calendar; do
  ADD_OPENS="$ADD_OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
exec java $ADD_OPENS \
  -Dspark.ui.enabled=false -Dspark.sql.session.timeZone=UTC \
  -Xmx"${SPARK_DRIVER_MEM:-8g}" \
  -cp "$CLASSES:/opt/spark/jars/*" "$@"
