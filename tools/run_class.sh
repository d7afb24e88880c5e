#!/bin/bash
# Run a graft main class directly against the compiled classes + the
# image's Spark jars (same JVM flags build.sbt passes to forked runs).
# Usage: tools/run_class.sh [jvm options...] <mainClass> [args...]
#   Mains: graft.Bench, graft.Verify, graft.Profile, graft.Probe,
#   graft.Micro, graft.Explain. Env vars pass through.
#   -Dspark.k=v overrides the session recipe (graft.obs.Session), e.g.
#     tools/run_class.sh -Dspark.sql.adaptive.enabled=false \
#       graft.Profile <sfDir> 2 f1_overlap_join
#   -XX:StartFlightRecording=filename=p.jfr samples threads (JFR).
set -e
cd "$(dirname "$0")/.."
CP="target/scala-2.13/classes:/opt/spark/jars/*"
OPENS=""
for p in java.lang java.lang.invoke java.lang.reflect java.io java.net \
         java.nio java.util java.util.concurrent java.util.concurrent.atomic; do
  OPENS="$OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
for p in sun.nio.ch sun.nio.cs sun.security.action sun.util.calendar; do
  OPENS="$OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
exec java $OPENS -Dspark.ui.enabled=false -Dspark.sql.session.timeZone=UTC \
  -Xmx"${SPARK_DRIVER_MEM:-8g}" -cp "$CP" "$@"
