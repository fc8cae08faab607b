#!/bin/bash
# Direct-JVM runner for graft main classes (no sbt overhead). Usage:
#   tools/run_java.sh [-Xmx…] graft.Bench [args…]
# Mirrors build.sbt's JDK17 add-opens and heap default; the session conf
# itself comes from graft.GraftSession.
set -u
OPENS=""
for p in java.lang java.lang.invoke java.lang.reflect java.io java.net java.nio \
         java.util java.util.concurrent java.util.concurrent.atomic; do
  OPENS="$OPENS --add-opens=java.base/$p=ALL-UNNAMED"
done
for p in sun.nio.ch sun.nio.cs sun.security.action sun.util.calendar; do
  OPENS="$OPENS --add-opens=java.base/$p=ALL-UNNAMED"
done
XMX="-Xmx${SPARK_DRIVER_MEM:-8g}"
if [[ "${1:-}" == -Xmx* ]]; then XMX="$1"; shift; fi
exec java $XMX $OPENS -cp "target/scala-2.13/classes:/opt/spark/jars/*" "$@"
