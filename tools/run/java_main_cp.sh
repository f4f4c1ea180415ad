#!/bin/bash
# Run a graft main outside sbt with build.sbt's forked-JVM flags, so long
# measurements don't hold the sbt lock while sources evolve. It runs the
# classes built in the checkout it sits in. Keep the flags below in step
# with build.sbt's javaOptions (LauncherFlagsSpec checks the -Dspark.* ones).
# Usage: java_main_cp.sh <MainClass> [args...]
set -e
CLS=$1; shift
REPO=$(cd "$(dirname "$0")/../.." && pwd)
CLASSES=$REPO/target/scala-2.13/classes
OPENS=""
for p in java.lang java.lang.invoke java.lang.reflect java.io java.net \
         java.nio java.util java.util.concurrent java.util.concurrent.atomic; do
  OPENS="$OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
for p in sun.nio.ch sun.nio.cs sun.security.action sun.util.calendar; do
  OPENS="$OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
exec java $OPENS -Dspark.ui.enabled=false -Dspark.sql.session.timeZone=UTC \
  -Dspark.sql.codegen.cache.maxEntries=8192 \
  -Dspark.sql.artifact.isolation.enabled=false \
  -Dspark.sql.codegen.useIdInClassName=false \
  -Xmx${SPARK_DRIVER_MEM:-16g} -XX:+UseParallelGC \
  $GRAFT_JVM_OPTS \
  -cp "$CLASSES:/opt/spark/jars/*" "$CLS" "$@"
