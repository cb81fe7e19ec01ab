#!/bin/bash
# Run a graft main (e.g. graft.examples.ScaleUp or StageProf) in its own
# JVM without sbt — it can then run in the background while sbt
# compiles/tests in the foreground (sbt holds a project-level lock; two sbt
# processes cannot share one checkout).
#
#   tools/probe.sh <MainClass> [args...]
#
# Env: PROBE_MEM (default 96g) sizes the driver heap; the main's own
# variables (SPARK_GRAFT_CPUS, SPARK_GRAFT_SF_DIR, GRAFT_SCALEUP_TABLES)
# pass through to it. The --add-opens list matches
# build.sbt's jdk17AddOpens (Spark 4.x on JDK 17 outside spark-submit).
set -euo pipefail
CP="/root/repo/target/scala-2.13/classes:/opt/spark/jars/*"
OPENS=""
for p in java.lang java.lang.invoke java.lang.reflect java.io java.net \
         java.nio java.util java.util.concurrent java.util.concurrent.atomic; do
  OPENS="$OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
for p in sun.nio.ch sun.nio.cs sun.security.action sun.util.calendar; do
  OPENS="$OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
# Co-tenant VM pauses on this box can stall the in-process RPC loop long
# enough (>10 s ask timeout, 60 missed heartbeats) to kill the local-mode
# executor mid-leg — measured round 15. Long timeouts ride the pauses out.
exec java $OPENS -Xmx"${PROBE_MEM:-96g}" \
  -Dspark.ui.enabled=false -Dspark.sql.session.timeZone=UTC \
  -Dspark.network.timeout=600s -Dspark.executor.heartbeatInterval=120s \
  -Dspark.rpc.askTimeout=600s -Dspark.rpc.lookupTimeout=600s \
  -cp "$CP" "$@"
