#!/usr/bin/env bash
# Interleaved A/B harness (the r15 measurement protocol): alternate
# graft.Bench runs in its SPARK_GRAFT_REPS mode between a baseline
# checkout's classes (BASE, built with `sbt compile`; its Bench must
# have the REPS mode) and this tree's classes, so both sides sample
# the same host-noise window; compare per-query MINIMA across rounds.
# Prints Bench's stderr progress lines, one per query and side:
#   [OLD] [bench] <query> <secs> jobs=<n> reruns=<secs>,...
# Usage: BASE=<checkout> scripts/ab.sh <query-prefixes> [rounds] [reps]
# Env: SF (testdata dir), CPUS (default 4)
set -euo pipefail
cd "$(dirname "$0")/.."
ONLY=$1; ROUNDS=${2:-3}; REPS=${3:-4}
BASE=${BASE:?set BASE to a compiled baseline checkout}
: "${SPARK_HOME:?set SPARK_HOME to the Spark install}"
ADD_OPENS=""
for p in java.base/java.lang java.base/java.lang.invoke java.base/java.lang.reflect \
         java.base/java.io java.base/java.net java.base/java.nio java.base/java.util \
         java.base/java.util.concurrent java.base/java.util.concurrent.atomic \
         java.base/sun.nio.ch java.base/sun.nio.cs java.base/sun.security.action \
         java.base/sun.util.calendar; do
  ADD_OPENS="$ADD_OPENS --add-opens $p=ALL-UNNAMED"
done
run() {
  local cp=$1 tag=$2
  SPARK_GRAFT_ONLY="$ONLY" SPARK_GRAFT_REPS="$REPS" \
  SPARK_GRAFT_SF_DIR="${SF:-/root/testdata/sf0.1}" \
  SPARK_GRAFT_CPUS="${CPUS:-4}" \
  java $ADD_OPENS -Xmx24g -XX:ReservedCodeCacheSize=1g \
    -Dspark.ui.enabled=false -Dspark.sql.session.timeZone=UTC \
    -cp "$cp:$SPARK_HOME/jars/*" graft.Bench 2>&1 >/dev/null \
    | grep '^\[bench\] .* jobs=' | sed "s/^/[$tag] /"
}
for i in $(seq "$ROUNDS"); do
  run "$BASE/target/scala-2.13/classes" OLD
  run target/scala-2.13/classes NEW
done
