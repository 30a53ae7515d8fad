#!/bin/bash
# Run graft.Verify directly on the compiled classes (avoids sbt lock
# contention with a concurrently-running test suite). Usage:
#   tools/run_verify.sh <sfdir> <outdir> [query names...]
# Sourced instead of run (tools/probe.sh does), it only sets OPENS and
# CP: the JVM flags and classpath of every direct-java tool.
set -e
OPENS="--add-opens java.base/java.lang=ALL-UNNAMED --add-opens java.base/java.lang.invoke=ALL-UNNAMED --add-opens java.base/java.lang.reflect=ALL-UNNAMED --add-opens java.base/java.io=ALL-UNNAMED --add-opens java.base/java.net=ALL-UNNAMED --add-opens java.base/java.nio=ALL-UNNAMED --add-opens java.base/java.util=ALL-UNNAMED --add-opens java.base/java.util.concurrent=ALL-UNNAMED --add-opens java.base/java.util.concurrent.atomic=ALL-UNNAMED --add-opens java.base/sun.nio.ch=ALL-UNNAMED --add-opens java.base/sun.nio.cs=ALL-UNNAMED --add-opens java.base/sun.security.action=ALL-UNNAMED --add-opens java.base/sun.util.calendar=ALL-UNNAMED"
CP="$(cd "$(dirname "${BASH_SOURCE[0]}")/.." && pwd)/target/scala-2.13/classes:${SPARK_HOME:-/opt/spark}/jars/*"
[ "${BASH_SOURCE[0]}" != "$0" ] && return 0
exec java $OPENS -Dspark.ui.enabled=false -Dspark.sql.session.timeZone=UTC -Xmx16g \
  -cp "$CP" graft.Verify "$@"
