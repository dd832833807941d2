#!/bin/bash
# Run a graft main class straight from the compiled classes — the
# sbt-free path for iterating while another sbt process owns the
# project lock (concurrent sbt runs corrupt each other). Mirrors
# build.sbt's fork JVM options exactly. Usage:
#   tools/run_main.sh graft.Verify /root/testdata/sf0.01 /tmp/out
set -euo pipefail
cd "$(dirname "$0")/.."
ADD_OPENS=""
for p in java.base/java.lang java.base/java.lang.invoke \
  java.base/java.lang.reflect java.base/java.io java.base/java.net \
  java.base/java.nio java.base/java.util java.base/java.util.concurrent \
  java.base/java.util.concurrent.atomic java.base/sun.nio.ch \
  java.base/sun.nio.cs java.base/sun.security.action \
  java.base/sun.util.calendar; do
  ADD_OPENS="$ADD_OPENS --add-opens $p=ALL-UNNAMED"
done
exec java $ADD_OPENS -XX:+ExitOnOutOfMemoryError \
  -Dspark.ui.enabled=false -Dspark.sql.session.timeZone=UTC \
  -Xmx"${SPARK_DRIVER_MEM:-8g}" \
  -cp "target/scala-2.13/classes:/opt/spark/jars/*" "$@"
