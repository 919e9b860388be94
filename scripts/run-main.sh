#!/bin/bash
# Run a graft main off a compiled-classes dir without going through sbt
# (so probes can run while sbt rebuilds). Usage:
#   scripts/run-main.sh [-cp CLASSES_DIR] graft.Inspect census <sfDir> d,g
set -euo pipefail
CLASSES="target/scala-2.13/classes"
if [ "${1:-}" = "-cp" ]; then CLASSES="$2"; shift 2; fi
ADD_OPENS=""
for p in java.lang java.lang.invoke java.lang.reflect java.io java.net java.nio \
         java.util java.util.concurrent java.util.concurrent.atomic; do
  ADD_OPENS="$ADD_OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
ADD_OPENS="$ADD_OPENS --add-opens java.base/sun.nio.ch=ALL-UNNAMED"
ADD_OPENS="$ADD_OPENS --add-opens java.base/sun.nio.cs=ALL-UNNAMED"
ADD_OPENS="$ADD_OPENS --add-opens java.base/sun.security.action=ALL-UNNAMED"
ADD_OPENS="$ADD_OPENS --add-opens java.base/sun.util.calendar=ALL-UNNAMED"
exec java $ADD_OPENS "-Xmx${SPARK_DRIVER_MEM:-8g}" \
  -Dspark.ui.enabled=false -Dspark.sql.session.timeZone=UTC \
  -cp "$CLASSES:/opt/spark/jars/*" "$@"
