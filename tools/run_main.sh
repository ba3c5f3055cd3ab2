#!/bin/bash
# Run a graft main class directly from compiled classes (bypasses the
# sbt lock so long generators/benches can run beside an sbt session).
# Usage: tools/run_main.sh <mainClass> [args...]
set -e
cd /root/repo
OPENS=""
for p in java.lang java.lang.invoke java.lang.reflect java.io java.net java.nio \
         java.util java.util.concurrent java.util.concurrent.atomic \
         sun.nio.ch sun.nio.cs sun.security.action sun.util.calendar; do
  OPENS="$OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
exec java $OPENS -Xmx${SPARK_DRIVER_MEM:-32g} -Xms${SPARK_DRIVER_MEM:-32g} -XX:+UseParallelGC \
  -cp "target/scala-2.13/classes:/opt/spark/jars/*" "$@"
