#!/bin/bash
# Run a compiled graft main without sbt (avoids sbt target/ lock contention
# when a long background run overlaps interactive compiles). Mirrors the
# javaOptions in build.sbt (JDK17 add-opens, and a default heap of half
# the host memory clamped to 2-8 GiB; SPARK_DRIVER_MEM overrides it).
# Usage: tools/run_main.sh <mainClass> [args...]
set -euo pipefail
CLASS="$1"; shift
ADD_OPENS=""
for p in java.lang java.lang.invoke java.lang.reflect java.io java.net \
         java.nio java.util java.util.concurrent java.util.concurrent.atomic \
         sun.nio.ch sun.nio.cs sun.security.action sun.util.calendar; do
  ADD_OPENS="$ADD_OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
DEFAULT_MEM="$(awk '/^MemTotal:/ {g = int($2 / 2097152)}
  END {print (g < 2 ? 2 : g > 8 ? 8 : g) "g"}' /proc/meminfo 2>/dev/null || echo 2g)"
exec java $ADD_OPENS \
  -Xmx"${SPARK_DRIVER_MEM:-$DEFAULT_MEM}" \
  -cp "$(dirname "$0")/../target/scala-2.13/classes:/opt/spark/jars/*" \
  "$CLASS" "$@"
