#!/bin/bash
# Run graft.Bench exactly as the sbt fork would (same classpath, same
# javaOptions from build.sbt), but from a SNAPSHOT of the compiled
# classes so sbt stays free for concurrent compiles. Usage:
#   tools/runbench.sh <out.json> [codecache] [cpus] [sfdir]
set -euo pipefail
OUT="${1:?out file}"
CC="${2:-1g}"
CPUS="${3:-32}"
SF="${4:-/root/testdata/sf0.1}"
SNAP=$(mktemp -d /tmp/graft-classes.XXXX)
trap 'rm -rf "$SNAP"' EXIT
cp -r "$(dirname "$0")/../target/scala-2.13/classes/"* "$SNAP/"
ADD_OPENS=""
for p in java.lang java.lang.invoke java.lang.reflect java.io java.net \
         java.nio java.util java.util.concurrent java.util.concurrent.atomic \
         sun.nio.ch sun.nio.cs sun.security.action sun.util.calendar; do
  ADD_OPENS="$ADD_OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
SPARK_GRAFT_SF_DIR="$SF" SPARK_GRAFT_CPUS="$CPUS" SPARK_GRAFT_BENCH_OUT="$OUT" \
java $ADD_OPENS \
  -Dspark.ui.enabled=false -Dspark.sql.session.timeZone=UTC \
  -Xmx"${SPARK_DRIVER_MEM:-8g}" -XX:MaxTenuringThreshold=1 \
  -XX:ReservedCodeCacheSize="$CC" -XX:+UseCodeCacheFlushing \
  -cp "$SNAP:/opt/spark/jars/*" graft.Bench
