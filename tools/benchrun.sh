#!/bin/bash
# Direct-java Bench runner (no sbt lock, same JVM args as build.sbt's fork).
# Usage: tools/benchrun.sh   (settings via the environment: SPARK_GRAFT_*,
#   SPARK_DRIVER_MEM, GRAFT_MAIN to run another main, GRAFT_EXTRA_OPTS)
#
# The runtime classpath is read from target/graft_cp.txt. When that file is
# missing, the script writes it first with
#   sbt -batch -error "export Runtime/fullClasspath" | tail -n 1 > target/graft_cp.txt
# which also compiles the tree. The file names this checkout's own
# target/ directories, so it is kept per checkout; delete it after a
# dependency change. Classes are not rebuilt by this script: run
# `sbt compile` after editing the sources.
set -u
ROOT=$(cd "$(dirname "$0")/.." && pwd)
CP_FILE="$ROOT/target/graft_cp.txt"
if [ ! -s "$CP_FILE" ]; then
  echo "benchrun: writing $CP_FILE with sbt" >&2
  mkdir -p "$ROOT/target"
  (cd "$ROOT" && sbt -batch -error "export Runtime/fullClasspath") \
    | tail -n 1 > "$CP_FILE.tmp"
  if ! grep -q "$ROOT/target" "$CP_FILE.tmp"; then
    rm -f "$CP_FILE.tmp"
    echo "benchrun: could not write the classpath; run in $ROOT:" >&2
    echo '  sbt -batch -error "export Runtime/fullClasspath" | tail -n 1 > target/graft_cp.txt' >&2
    exit 1
  fi
  mv "$CP_FILE.tmp" "$CP_FILE"
fi
CP=$(cat "$CP_FILE")
OPENS=""
for p in java.lang java.lang.invoke java.lang.reflect java.io java.net \
         java.nio java.util java.util.concurrent java.util.concurrent.atomic \
         sun.nio.ch sun.nio.cs sun.security.action sun.util.calendar; do
  OPENS="$OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
exec java $OPENS ${GRAFT_EXTRA_OPTS:-} \
  -Dspark.ui.enabled=false -Dspark.sql.session.timeZone=UTC \
  -Xmx${SPARK_DRIVER_MEM:-8g} -XX:ReservedCodeCacheSize=512m \
  -cp "$CP" "${GRAFT_MAIN:-graft.Bench}"
