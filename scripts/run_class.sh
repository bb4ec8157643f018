#!/bin/bash
# Run a graft main class directly on the compiled classes of the checkout
# this script lives in, plus the Spark jars under $SPARK_HOME.
CLS=$1; shift
ROOT="$(cd "$(dirname "$0")/.." && pwd)"
JARS="${SPARK_HOME:?set SPARK_HOME to the Spark install}/jars"
CP="$ROOT/target/scala-2.13/classes:$(ls "$JARS"/*.jar | tr '\n' ':')"
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
  -Dspark.ui.enabled=false -Dspark.sql.session.timeZone=UTC -Xmx${SPARK_GRAFT_XMX:-8g} \
  -cp "$CP" "$CLS" "$@"
