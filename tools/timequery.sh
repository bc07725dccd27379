#!/bin/bash
# Fast per-query timing/plan probe: java directly on the compiled classes
# (skips sbt startup). Usage: tools/timequery.sh <query> [sfDir] [reps]
# reps=0 prints the formatted plan. Honors SPARK_GRAFT_CPUS.
set -euo pipefail
cd "$(dirname "$0")/.."
Q="$1"; SF="${2:-/root/testdata/sf0.1}"; REPS="${3:-3}"
ADD_OPENS=""
for p in java.lang java.lang.invoke java.lang.reflect java.io java.net java.nio \
         java.util java.util.concurrent java.util.concurrent.atomic; do
  ADD_OPENS+=" --add-opens java.base/$p=ALL-UNNAMED"
done
for p in sun.nio.ch sun.nio.cs sun.security.action sun.util.calendar; do
  ADD_OPENS+=" --add-opens java.base/$p=ALL-UNNAMED"
done
exec java $ADD_OPENS -Xmx"${SPARK_DRIVER_MEM:-8g}" \
  -cp "target/scala-2.13/classes:/opt/spark/jars/*" \
  graft.TimeQuery "$Q" "$SF" "$REPS"
