#!/usr/bin/env bash
# Run a graft main against the compiled classes without taking the sbt
# target lock (sbt serializes runMain with any concurrent test/compile).
# Usage: tools/run_main.sh graft.SomeMain [args...]
# Honors SPARK_GRAFT_* env vars and the SPARK_DRIVER_MEM heap (default 8g)
# the same way the sbt fork does.
set -euo pipefail
cd "$(dirname "$0")/.."
CP="target/scala-2.13/classes"
for j in /opt/spark/jars/*.jar; do CP="$CP:$j"; done
ADD_OPENS=(
  java.base/java.lang java.base/java.lang.invoke java.base/java.lang.reflect
  java.base/java.io java.base/java.net java.base/java.nio
  java.base/java.util java.base/java.util.concurrent
  java.base/java.util.concurrent.atomic
  java.base/sun.nio.ch java.base/sun.nio.cs
  java.base/sun.security.action java.base/sun.util.calendar
)
FLAGS=()
for p in "${ADD_OPENS[@]}"; do FLAGS+=(--add-opens "$p=ALL-UNNAMED"); done
exec java "${FLAGS[@]}" -Xmx"${SPARK_DRIVER_MEM:-8g}" -cp "$CP" "$@"
