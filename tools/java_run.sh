#!/bin/bash
# Run a graft main under plain `java` (keeps the sbt lock free; see the
# verify skill). Usage: tools/java_run.sh <MainClass> [args...]
# Extra classpath entries can be prepended via GRAFT_CP_PRE. The classes
# are those of the checkout this script sits in, wherever it is called from.
set -e
ROOT="$(cd "$(dirname "${BASH_SOURCE[0]}")/.." && pwd)"
ADD_OPENS=""
for p in java.base/java.lang java.base/java.lang.invoke \
  java.base/java.lang.reflect java.base/java.io java.base/java.net \
  java.base/java.nio java.base/java.util java.base/java.util.concurrent \
  java.base/java.util.concurrent.atomic java.base/sun.nio.ch \
  java.base/sun.nio.cs java.base/sun.security.action \
  java.base/sun.util.calendar; do
  ADD_OPENS="$ADD_OPENS --add-opens $p=ALL-UNNAMED"
done
exec java $ADD_OPENS \
  -Dspark.ui.enabled=false -Dspark.sql.session.timeZone=UTC \
  -Xmx${SPARK_DRIVER_MEM:-8g} \
  -cp "${GRAFT_CP_PRE:+$GRAFT_CP_PRE:}$ROOT/target/scala-2.13/classes:/opt/spark/jars/*" \
  "$@"
