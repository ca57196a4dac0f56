#!/bin/bash
# Fast runner: java directly against compiled classes + Spark's jars
# ($SPARK_HOME, else the install holding spark-submit on PATH; skips
# sbt JVM spawn). Usage: scripts/run.sh graft.Verify <args...>
set -e
REPO="$(cd "$(dirname "$0")/.." && pwd)"
SPARK="${SPARK_HOME:-$(dirname "$(dirname "$(readlink -f "$(command -v spark-submit)")")")}"
CLS="$1"; shift
ADD_OPENS=""
for p in java.lang java.lang.invoke java.lang.reflect java.io java.net \
         java.nio java.util java.util.concurrent java.util.concurrent.atomic; do
  ADD_OPENS="$ADD_OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
for p in sun.nio.ch sun.nio.cs sun.security.action sun.util.calendar; do
  ADD_OPENS="$ADD_OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
exec java $ADD_OPENS $SPARK_GRAFT_JAVA_OPTS \
  -XX:ReservedCodeCacheSize=512m \
  -Dspark.ui.enabled=false \
  -Dspark.sql.session.timeZone=UTC \
  -Xmx"${SPARK_DRIVER_MEM:-8g}" \
  -cp "$REPO/target/scala-2.13/classes:$SPARK/jars/*" \
  "$CLS" "$@"
