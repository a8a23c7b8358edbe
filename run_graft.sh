#!/bin/bash
# Direct JVM launcher for graft mains (bypasses sbt so parallel runs don't fight the sbt lock)
MAIN=$1; shift
ADDOPENS=""
for p in java.lang java.lang.invoke java.lang.reflect java.io java.net java.nio java.util java.util.concurrent java.util.concurrent.atomic sun.nio.ch sun.nio.cs sun.security.action sun.util.calendar; do
  ADDOPENS="$ADDOPENS --add-opens=java.base/$p=ALL-UNNAMED"
done
exec java $ADDOPENS -Xmx${SPARK_DRIVER_MEM:-12g} \
  -Dspark.ui.enabled=false \
  -cp "/root/repo/target/scala-2.13/classes:/opt/spark/jars/*" "$MAIN" "$@"
