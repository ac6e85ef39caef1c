#!/bin/bash
# Fast runner: java directly against compiled classes + /opt/spark/jars.
# Usage: tools/run.sh graft.Verify /root/testdata/sf0.001 /tmp/v1
#
# The JVM reads a private copy of target/scala-2.13/classes, taken at
# start and removed on exit: an `sbt compile` running at the same time
# rewrites that directory in place, and a JVM loading a class mid-rewrite
# fails its queries.
set -e
cd "$(dirname "$0")/.."
OPENS=""
for p in java.lang java.lang.invoke java.lang.reflect java.io java.net \
         java.nio java.util java.util.concurrent java.util.concurrent.atomic \
         sun.nio.ch sun.nio.cs sun.security.action sun.util.calendar; do
  OPENS="$OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
classes=$(mktemp -d "${TMPDIR:-/tmp}/graft-classes.XXXXXX")
trap 'rm -rf "$classes"' EXIT
cp -R target/scala-2.13/classes/. "$classes"
java $OPENS \
  -Xmx"${SPARK_DRIVER_MEM:-8g}" \
  -Dspark.ui.enabled=false \
  -Dspark.sql.session.timeZone=UTC \
  -cp "$classes:/opt/spark/jars/*" \
  "$@"
