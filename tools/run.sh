#!/bin/bash
# sbt-free runner for graft mains (keeps the sbt lock free).
# usage: tools/run.sh <MainClass> [args...]
# Runs the classes `sbt compile` left in this checkout's target/, against
# the Spark jars build.sbt compiles with (its unmanagedBase). The heap is
# SPARK_DRIVER_MEM (default 8g), the setting build.sbt forks tests with.
REPO="$(cd "$(dirname "${BASH_SOURCE[0]}")/.." && pwd)"
JARS="$(sed -n 's/^unmanagedBase := file("\(.*\)")$/\1/p' "$REPO/build.sbt")"
MAIN=$1; shift
exec java "-Xmx${SPARK_DRIVER_MEM:-8g}" \
  --add-opens=java.base/java.lang=ALL-UNNAMED \
  --add-opens=java.base/java.lang.invoke=ALL-UNNAMED \
  --add-opens=java.base/java.lang.reflect=ALL-UNNAMED \
  --add-opens=java.base/java.io=ALL-UNNAMED \
  --add-opens=java.base/java.net=ALL-UNNAMED \
  --add-opens=java.base/java.nio=ALL-UNNAMED \
  --add-opens=java.base/java.util=ALL-UNNAMED \
  --add-opens=java.base/java.util.concurrent=ALL-UNNAMED \
  --add-opens=java.base/java.util.concurrent.atomic=ALL-UNNAMED \
  --add-opens=java.base/jdk.internal.ref=ALL-UNNAMED \
  --add-opens=java.base/sun.nio.ch=ALL-UNNAMED \
  --add-opens=java.base/sun.nio.cs=ALL-UNNAMED \
  --add-opens=java.base/sun.security.action=ALL-UNNAMED \
  --add-opens=java.base/sun.util.calendar=ALL-UNNAMED \
  --enable-native-access=ALL-UNNAMED \
  -Dio.netty.tryReflectionSetAccessible=true \
  -Dspark.ui.enabled=false \
  -Dspark.sql.session.timeZone=UTC \
  -cp "$REPO/target/scala-2.13/classes:$JARS/*" "$MAIN" "$@"
