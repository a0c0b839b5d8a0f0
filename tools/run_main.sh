#!/bin/bash
# Run a graft main directly on the sbt-compiled classes (skips sbt startup).
# Usage: tools/run_main.sh graft.Verify /root/testdata/sf0.01 /tmp/out
# Env: SPARK_DRIVER_MEM (default 8g) plus whatever the main reads.
#
# The classpath is that of the checkout holding this script, cached in its
# own target/run_main.cp: two checkouts side by side (an A/B) each run their
# own classes. Delete the file after a dependency change to rebuild it.
set -u
ROOT=$(cd "$(dirname "$0")/.." && pwd)
CACHE="$ROOT/target/run_main.cp"
CP=$(cat "$CACHE" 2>/dev/null)
if [ -z "$CP" ]; then
  CP=$(cd "$ROOT" && sbt -batch "export Runtime/fullClasspath" 2>/dev/null | tail -1)
  case "$CP" in
    "$ROOT"/target/*) mkdir -p "$ROOT/target" && echo "$CP" > "$CACHE" ;;
    *) echo "run_main.sh: no classpath for $ROOT from sbt" >&2; exit 1 ;;
  esac
fi
ADD_OPENS=""
for p in java.lang java.lang.invoke java.lang.reflect java.io java.net java.nio \
         java.util java.util.concurrent java.util.concurrent.atomic; do
  ADD_OPENS="$ADD_OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
for p in sun.nio.ch sun.nio.cs sun.security.action sun.util.calendar; do
  ADD_OPENS="$ADD_OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
exec java $ADD_OPENS ${EXTRA_JAVA_OPTS:-} \
  -Dspark.ui.enabled=false \
  -Dspark.sql.session.timeZone=UTC \
  -Xmx${SPARK_DRIVER_MEM:-8g} \
  -cp "$CP" "$@"
