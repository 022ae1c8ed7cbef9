#!/bin/bash
# Run a graft tools main on the compiled classpath with the same JDK17
# add-opens set build.sbt gives forked runs (sbt-startup-free).
# Heap: SPARK_DRIVER_MEM, else half of MemTotal clamped to 2-8 g (the
# same rule as the test command in ROADMAP.md).
MEM="${SPARK_DRIVER_MEM:-$(awk '/^MemTotal:/ {g = int($2 / 2097152)} END {print (g < 2 ? 2 : g > 8 ? 8 : g) "g"}' 2>/dev/null </proc/meminfo || echo 2g)}"
# GRAFT_CLASSES lets a long-running batch pin a snapshot of the compiled
# classes so concurrent sbt compiles can't swap class files under it.
CP="${GRAFT_CLASSES:-/root/repo/target/scala-2.13/classes}:/opt/spark/jars/*"
exec java -cp "$CP" \
  --add-opens=java.base/java.lang=ALL-UNNAMED \
  --add-opens=java.base/java.lang.invoke=ALL-UNNAMED \
  --add-opens=java.base/java.lang.reflect=ALL-UNNAMED \
  --add-opens=java.base/java.io=ALL-UNNAMED \
  --add-opens=java.base/java.net=ALL-UNNAMED \
  --add-opens=java.base/java.nio=ALL-UNNAMED \
  --add-opens=java.base/java.util=ALL-UNNAMED \
  --add-opens=java.base/java.util.concurrent=ALL-UNNAMED \
  --add-opens=java.base/java.util.concurrent.atomic=ALL-UNNAMED \
  --add-opens=java.base/sun.nio.ch=ALL-UNNAMED \
  --add-opens=java.base/sun.nio.cs=ALL-UNNAMED \
  --add-opens=java.base/sun.security.action=ALL-UNNAMED \
  --add-opens=java.base/sun.util.calendar=ALL-UNNAMED \
  -Dspark.ui.enabled=false -Dspark.sql.session.timeZone=UTC \
  -Xmx"$MEM" "$@"
