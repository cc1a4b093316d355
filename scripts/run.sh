#!/bin/bash
# Run a graft main class against the compiled classes + Spark jars without
# sbt's startup overhead. Usage: scripts/run.sh graft.Verify <args...>
# JAVA_EXTRA: whitespace-separated JVM flags placed before the class name,
# e.g. JAVA_EXTRA="-Dspark.eventLog.enabled=true -Dspark.eventLog.dir=/tmp/ev"
# or JAVA_EXTRA="-XX:StartFlightRecording=filename=run.jfr"
set -e
REPO="$(cd "$(dirname "$0")/.." && pwd)"
# GRAFT_RUN_CWD: run from elsewhere (e.g. an sf1 bench dir so the
# BENCH_PLANSHAPE.json sidecar, written to CWD, doesn't clobber the
# repo-root sf0.1 one)
cd "${GRAFT_RUN_CWD:-$REPO}"
CP="$REPO/target/scala-2.13/classes:$(ls -d /opt/spark/jars)/*"
OPENS=""
for p in java.lang java.lang.invoke java.lang.reflect java.io java.net \
         java.nio java.util java.util.concurrent java.util.concurrent.atomic; do
  OPENS="$OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
OPENS="$OPENS --add-opens java.base/sun.nio.ch=ALL-UNNAMED"
OPENS="$OPENS --add-opens java.base/sun.nio.cs=ALL-UNNAMED"
OPENS="$OPENS --add-opens java.base/sun.security.action=ALL-UNNAMED"
OPENS="$OPENS --add-opens java.base/sun.util.calendar=ALL-UNNAMED"
# 24g + code-cache sizing mirror build.sbt's run/javaOptions: a full-catalog
# bench (110+ queries x N runs in ONE JVM) generates thousands of codegen
# classes — at the JVM's default ~240m ReservedCodeCacheSize the JIT stops
# compiling mid-catalog and late-alphabet heavy queries run 2x slow
# (measured: q54 11s in-catalog vs 5.6s isolated before this flag).
exec java $OPENS -Xmx${SPARK_DRIVER_MEM:-24g} \
  -XX:ReservedCodeCacheSize=512m \
  -Dspark.ui.enabled=false -Dspark.sql.session.timeZone=UTC \
  $JAVA_EXTRA -cp "$CP" "$@"
