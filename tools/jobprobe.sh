#!/bin/bash
# Per-job attribution probe: java directly on the compiled classes.
# Usage: tools/jobprobe.sh <query> [sfDir]
set -euo pipefail
cd "$(dirname "$0")/.."
Q="$1"; SF="${2:-/root/testdata/sf0.1}"
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
  graft.tools.JobProbe "$Q" "$SF"
