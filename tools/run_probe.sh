#!/bin/bash
# Run a dev probe class in a fresh JVM with the bench's exact JVM settings
# (same --add-opens set and heap as build.sbt's javaOptions), without sbt's
# in-between overhead. Usage:
#   tools/run_probe.sh graft.PackProbe 2
set -euo pipefail
cd "$(dirname "$0")/.."
CP="target/scala-2.13/classes:target/scala-2.13/test-classes:/opt/spark/jars/*"
# scalatest/scalacheck jars (test classpath members some tools reference)
for j in $(find "$HOME/.cache/coursier" -name '*.jar' 2>/dev/null | grep -E 'scalatest|scalactic|scalacheck' | head -20); do
  CP="$CP:$j"
done
OPENS=""
for p in java.lang java.lang.invoke java.lang.reflect java.io java.net java.nio \
         java.util java.util.concurrent java.util.concurrent.atomic; do
  OPENS="$OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
OPENS="$OPENS --add-opens java.base/sun.nio.ch=ALL-UNNAMED"
OPENS="$OPENS --add-opens java.base/sun.nio.cs=ALL-UNNAMED"
OPENS="$OPENS --add-opens java.base/sun.security.action=ALL-UNNAMED"
OPENS="$OPENS --add-opens java.base/sun.util.calendar=ALL-UNNAMED"
exec java $OPENS "-Xmx${SPARK_DRIVER_MEM:-8g}" \
  -Dspark.ui.enabled=false -Dspark.sql.session.timeZone=UTC \
  -cp "$CP" "$@"
