#!/bin/sh
# Run a graft main directly on the compiled classes + Spark jars,
# bypassing sbt (safe to use while an sbt test run holds the lock).
# Usage: tools/run_main.sh graft.tools.QTime <q1,q2,...> [sfDir]
set -e
cd "$(dirname "$0")/.."
SCALA_LIB=$(find ~/.sbt ~/.cache/coursier -name 'scala-library-2.13*.jar' 2>/dev/null | head -1)
exec java --add-exports=java.base/sun.nio.ch=ALL-UNNAMED \
  --add-opens=java.base/java.lang=ALL-UNNAMED \
  --add-opens=java.base/java.lang.invoke=ALL-UNNAMED \
  --add-opens=java.base/java.io=ALL-UNNAMED \
  --add-opens=java.base/java.net=ALL-UNNAMED \
  --add-opens=java.base/java.nio=ALL-UNNAMED \
  --add-opens=java.base/java.util=ALL-UNNAMED \
  --add-opens=java.base/java.util.concurrent=ALL-UNNAMED \
  --add-opens=java.base/sun.nio.ch=ALL-UNNAMED \
  --add-opens=java.base/sun.nio.cs=ALL-UNNAMED \
  --add-opens=java.base/sun.security.action=ALL-UNNAMED \
  --add-opens=java.base/sun.util.calendar=ALL-UNNAMED \
  -Xmx48g \
  -cp "target/scala-2.13/classes:$SCALA_LIB:/opt/spark/jars/*" "$@"
