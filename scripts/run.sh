#!/bin/bash
# Run any graft main class against the compiled classes + Spark jars,
# without sbt JVM startup. Usage: scripts/run.sh graft.Verify <args...>
# Env: SPARK_MASTER / SPARK_GRAFT_CPUS (see graft.GraftSession),
# SPARK_GRAFT_SF_DIR, SPARK_DRIVER_MEM.
set -e
cd "$(dirname "$0")/.."
OPENS=""
for p in java.lang java.lang.invoke java.lang.reflect java.io java.net java.nio \
         java.util java.util.concurrent java.util.concurrent.atomic \
         sun.nio.ch sun.nio.cs sun.security.action sun.util.calendar; do
  OPENS="$OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
exec java $OPENS \
  -Xmx"${SPARK_DRIVER_MEM:-8g}" \
  -cp "target/scala-2.13/classes:src/main/resources:/opt/spark/jars/*" "$@"
