#!/usr/bin/env bash
# Run a graft main class directly on the compiled classes (no sbt lock):
#   bash tools/jrun.sh <MainClass> [args...]
# Mirrors build.sbt's forked-run JVM options (JDK17 add-opens, heap); the
# session settings (UTC, no UI) come from graft.Session.
set -euo pipefail
cd "$(dirname "$0")/.."
OPENS=""
for p in java.lang java.lang.invoke java.lang.reflect java.io java.net \
         java.nio java.util java.util.concurrent java.util.concurrent.atomic; do
  OPENS="$OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
for p in sun.nio.ch sun.nio.cs sun.security.action sun.util.calendar; do
  OPENS="$OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
MAIN="$1"; shift
# Mirror build.sbt's execution-mode hook: SPARK_CODEGEN_FACTORY=NO_CODEGEN
# forces interpreted expression evaluation for a whole sweep.
EXTRA=""
if [ -n "${SPARK_CODEGEN_FACTORY:-}" ]; then
  EXTRA="-Dspark.sql.codegen.factoryMode=${SPARK_CODEGEN_FACTORY}"
fi
exec java $OPENS $EXTRA \
  -Xmx"${SPARK_DRIVER_MEM:-8g}" \
  -cp "target/scala-2.13/classes:/opt/spark/jars/*" \
  "$MAIN" "$@"
