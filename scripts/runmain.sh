#!/usr/bin/env bash
# Run a graft main class directly against compiled classes + the Spark
# distribution jars — no sbt lock, no sbt startup overhead, so timing
# probes (graft.Cli probe/plan, Bench) can run back to back while sbt
# does other work, and the gate scripts get one launcher. Mirrors
# build.sbt's javaOptions (add-opens, UI off, UTC).
#
# Usage: scripts/runmain.sh <MainClass> [args...]
#   env: JVM_MEM (heap, default 8g); SPARK_GRAFT_CPUS is read by the
#   main itself (GraftSession.mainBuilder)
set -uo pipefail
cd "$(dirname "$0")/.."

CP="target/scala-2.13/classes:/opt/spark/jars/*"
OPENS="--add-opens=java.base/java.lang=ALL-UNNAMED --add-opens=java.base/java.lang.invoke=ALL-UNNAMED --add-opens=java.base/java.lang.reflect=ALL-UNNAMED --add-opens=java.base/java.io=ALL-UNNAMED --add-opens=java.base/java.net=ALL-UNNAMED --add-opens=java.base/java.nio=ALL-UNNAMED --add-opens=java.base/java.util=ALL-UNNAMED --add-opens=java.base/java.util.concurrent=ALL-UNNAMED --add-opens=java.base/java.util.concurrent.atomic=ALL-UNNAMED --add-opens=java.base/sun.nio.ch=ALL-UNNAMED --add-opens=java.base/sun.nio.cs=ALL-UNNAMED --add-opens=java.base/sun.security.action=ALL-UNNAMED --add-opens=java.base/sun.util.calendar=ALL-UNNAMED"

exec java $OPENS -cp "$CP" \
  -Dspark.ui.enabled=false -Dspark.sql.session.timeZone=UTC \
  -Xmx"${JVM_MEM:-8g}" "$@"
