#!/bin/bash
# Run a graft main (graft.Verify / graft.Bench / graft.PlanDump /
# graft.Profile / graft.ScaleUp) on the
# sbt runtime classpath WITHOUT sbt's per-invocation startup cost,
# with the same JVM module-opens build.sbt gives forked runs (raw
# `java -cp` otherwise dies in Kryo on java.nio access — pc01).
# Usage: tools/graft_java.sh [-Xmx...] graft.Verify args...
#        tools/graft_java.sh graft.PlanDump [sfDir] [outFile]   (PLANS.md)
#        tools/graft_java.sh graft.PlanDump <sfDir> <outDir> <suffix> <query>...
#        tools/graft_java.sh graft.Profile <sfDir> <query> [warmups]   (jobs, stages)
set -e
cd "$(dirname "$0")/.."
CP_CACHE=/tmp/graft_runtime_cp.txt
if [ ! -s "$CP_CACHE" ] || [ build.sbt -nt "$CP_CACHE" ]; then
  sbt -batch 'export Runtime/fullClasspath' 2>/dev/null | tail -1 > "$CP_CACHE"
fi
OPENS=""
for p in java.lang java.lang.invoke java.lang.reflect java.io java.net \
         java.nio java.util java.util.concurrent java.util.concurrent.atomic; do
  OPENS="$OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
for p in sun.nio.ch sun.nio.cs sun.security.action sun.util.calendar; do
  OPENS="$OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
exec java $OPENS -Xmx"${SPARK_DRIVER_MEM:-8g}" \
  -Dspark.ui.enabled=false -Dspark.sql.session.timeZone=UTC \
  -cp "$(cat "$CP_CACHE")" "$@"
