#!/bin/bash
# Run a graft main class against the compiled classes without sbt
# (same JVM flags build.sbt passes to forked runs).
# usage: scripts/run.sh <mainClass> [args...]
set -e
if [ $# -lt 1 ]; then
  echo "usage: scripts/run.sh <mainClass> [args...]" >&2
  exit 2
fi
CLS="$1"; shift
# The checkout this script lives in, so a second checkout runs its own classes.
ROOT="$(cd "$(dirname "${BASH_SOURCE[0]}")/.." && pwd)"
CP="$ROOT/target/scala-2.13/classes:$(ls /opt/spark/jars/*.jar | tr '\n' ':')"
exec java \
  --add-opens java.base/java.lang=ALL-UNNAMED \
  --add-opens java.base/java.lang.invoke=ALL-UNNAMED \
  --add-opens java.base/java.lang.reflect=ALL-UNNAMED \
  --add-opens java.base/java.io=ALL-UNNAMED \
  --add-opens java.base/java.net=ALL-UNNAMED \
  --add-opens java.base/java.nio=ALL-UNNAMED \
  --add-opens java.base/java.util=ALL-UNNAMED \
  --add-opens java.base/java.util.concurrent=ALL-UNNAMED \
  --add-opens java.base/java.util.concurrent.atomic=ALL-UNNAMED \
  --add-opens java.base/sun.nio.ch=ALL-UNNAMED \
  --add-opens java.base/sun.nio.cs=ALL-UNNAMED \
  --add-opens java.base/sun.security.action=ALL-UNNAMED \
  --add-opens java.base/sun.util.calendar=ALL-UNNAMED \
  -Dspark.ui.enabled=false \
  -Dspark.sql.session.timeZone=UTC \
  -Xmx"${SPARK_DRIVER_MEM:-8g}" \
  -cp "$CP" "$CLS" "$@"
