#!/bin/bash
# Fast runner: java with the compiled classes + Spark's unmanaged jars and
# the JDK17 add-opens that build.sbt injects for forked runs.
# Usage: scripts/run.sh <mainClass> [args...]
set -e
# /tmp is wiped between sessions; rebuild the classpath cache on demand.
# Runtime deps are exactly target classes + /opt/spark/jars (build.sbt
# unmanagedBase) — test-only deps (scalatest) are not needed for mains.
if [ ! -s /tmp/cp.txt ]; then
  REPO="$(cd "$(dirname "$0")/.." && pwd)"
  printf '%s' "$REPO/target/scala-2.13/classes" > /tmp/cp.txt
  printf ':%s' /opt/spark/jars/*.jar >> /tmp/cp.txt
fi
CP=$(cat /tmp/cp.txt)
# local-cluster mode (GRAFT_MASTER / ClusterCheck): the in-process
# standalone Worker forks executor JVMs via the Spark launcher, which
# needs a distribution root and an explicit scala version (the binary
# distro carries no launcher/target build dirs to infer it from).
export SPARK_HOME="${SPARK_HOME:-/opt/spark}"
export SPARK_SCALA_VERSION="${SPARK_SCALA_VERSION:-2.13}"
# default heap: half of MemTotal, clamped to 2-8 GB
HEAP="$(awk '/^MemTotal:/ {g = int($2 / 2097152)} END {print (g < 2 ? 2 : g > 8 ? 8 : g) "g"}' /proc/meminfo 2>/dev/null || echo 2g)"
exec java \
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
  -XX:ReservedCodeCacheSize=1g \
  -Xmx${SPARK_DRIVER_MEM:-$HEAP} -cp "$CP" "$@"
