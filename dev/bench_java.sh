#!/usr/bin/env bash
# No-sbt launcher for the mains over the compiled classpath — the A/B
# methodology's fast path (sbt adds ~25 s JVM+build overhead per leg and
# its logger used to swallow the headline; see bench-ab memo). Replicates
# build.sbt's fork options (add-opens list, UTC, UI off, heap).
#   dev/bench_java.sh [REPO_DIR] CLASS [args...]
# env: SPARK_GRAFT_* as usual; SPARK_DRIVER_MEM overrides the heap.
set -euo pipefail
REPO="${1:-/root/repo}"; shift || true
CLASS="${1:-graft.Bench}"; shift || true
ADD_OPENS=(java.base/java.lang java.base/java.lang.invoke
  java.base/java.lang.reflect java.base/java.io java.base/java.net
  java.base/java.nio java.base/java.util java.base/java.util.concurrent
  java.base/java.util.concurrent.atomic java.base/sun.nio.ch
  java.base/sun.nio.cs java.base/sun.security.action
  java.base/sun.util.calendar)
OPENS=()
for p in "${ADD_OPENS[@]}"; do OPENS+=(--add-opens "$p=ALL-UNNAMED"); done
cd "$REPO"
exec java "${OPENS[@]}" \
  -Dspark.ui.enabled=false -Dspark.sql.session.timeZone=UTC \
  -Xmx"${SPARK_DRIVER_MEM:-32g}" \
  -cp "$REPO/target/scala-2.13/classes:/opt/spark/jars/*" \
  "$CLASS" "$@"
