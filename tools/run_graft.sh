#!/usr/bin/env bash
# Run a graft main class from the compiled classes directly (no sbt —
# bypasses the sbt project lock so tools/benches can run WHILE a long
# sbt-launched Verify dump holds it). Mirrors build.sbt's forked-run
# JVM flags (JDK17 add-opens for Spark 4, UTC, no UI, SPARK_DRIVER_MEM).
#
#   tools/run_graft.sh graft.tools.Profile tools/sf10 1 p02_minhash_neardup
#
# A prior `sbt compile` suffices: classes come from
# target/scala-2.13/classes and resources straight from src/main/resources,
# because `sbt compile` does not copy them into the classes directory (its
# META-INF/services DataSourceRegister is what resolves `graft-txt`, q54).
set -euo pipefail
cd "$(dirname "$0")/.."
ADD_OPENS=""
for p in java.lang java.lang.invoke java.lang.reflect java.io java.net \
         java.nio java.util java.util.concurrent java.util.concurrent.atomic \
         sun.nio.ch sun.nio.cs sun.security.action sun.util.calendar; do
  ADD_OPENS="$ADD_OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
exec java $ADD_OPENS \
  -Dspark.ui.enabled=false \
  -Dspark.sql.session.timeZone=UTC \
  -Xmx"${SPARK_DRIVER_MEM:-8g}" \
  -cp "target/scala-2.13/classes:src/main/resources:/opt/spark/jars/*" \
  "$@"
