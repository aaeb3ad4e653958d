#!/bin/bash
# Run a graft main class directly against the compiled classes (fast
# iteration without sbt's JVM). Usage: tools/run.sh graft.Verify <args...>
# Classes come from the checkout this script lives in, so a copy of the
# repo runs its own build, never another checkout's.
set -e
ROOT="$(cd "$(dirname "${BASH_SOURCE[0]}")/.." && pwd)"
# Spark jars: the unmanagedBase directory build.sbt compiles against.
JARS="$(sed -n 's/^unmanagedBase := file("\(.*\)")$/\1/p' "$ROOT/build.sbt")"
OPENS=""
for p in java.lang java.lang.invoke java.lang.reflect java.io java.net \
         java.nio java.util java.util.concurrent java.util.concurrent.atomic; do
  OPENS="$OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
for p in sun.nio.ch sun.nio.cs sun.security.action sun.util.calendar; do
  OPENS="$OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
exec java $OPENS \
  -Dspark.ui.enabled=false \
  -Dspark.sql.session.timeZone=UTC \
  -Xmx${SPARK_DRIVER_MEM:-8g} \
  -cp "$ROOT/target/scala-2.13/classes:$JARS/*" "$@"
