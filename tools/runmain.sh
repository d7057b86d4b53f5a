#!/bin/bash
# Direct-JVM runner for test mains (probes, hunts) — avoids the sbt server
# lock so probes can run while an sbt hunt is in flight. Requires a prior
# `sbt Test/compile`. Usage: tools/runmain.sh graft.Probe50Main [args...]
set -e
cd "$(dirname "$0")/.."
CP="target/scala-2.13/classes:target/scala-2.13/test-classes"
CP="$CP:$(ls /opt/spark/jars/*.jar | tr '\n' ':')"
for j in $(find /root/.cache/coursier -name 'scalatest*.jar' -o -name 'scalacheck*.jar' -o -name 'scala-parallel-collections*.jar' -o -name 'scala-parser-combinators*.jar' 2>/dev/null); do
  CP="$CP:$j"
done
# Heap: SPARK_DRIVER_MEM if set, else half of RAM clamped to 2-8 GB (the
# same formula as the tier-1 verify command in ROADMAP.md).
HEAP="${SPARK_DRIVER_MEM:-$(awk '/^MemTotal:/ {g = int($2 / 2097152)} END {print (g < 2 ? 2 : g > 8 ? 8 : g) "g"}' </proc/meminfo 2>/dev/null || echo 2g)}"
exec java "-Xmx$HEAP" \
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
  -cp "$CP" "$@"
