#!/usr/bin/env bash
# Run a graft main class with plain `java` against the sbt-compiled
# classes — no sbt process, so long probes never contend with builds on
# the project lock. Compile first (sbt -batch compile), then:
#   tools/run_probe.sh [-Xmx8g ...] graft.Explain td104_containment
# Env (SPARK_GRAFT_*) passes through unchanged.
set -e
cd "$(dirname "$0")/.."
JVM_FLAGS=()
while [[ "${1:-}" == -* ]]; do JVM_FLAGS+=("$1"); shift; done
OPENS=(java.lang java.lang.invoke java.lang.reflect java.io java.net \
  java.nio java.util java.util.concurrent java.util.concurrent.atomic)
ADD_OPENS=()
for p in "${OPENS[@]}"; do ADD_OPENS+=(--add-opens "java.base/$p=ALL-UNNAMED"); done
for p in sun.nio.ch sun.nio.cs sun.security.action sun.util.calendar; do
  ADD_OPENS+=(--add-opens "java.base/$p=ALL-UNNAMED")
done
exec java "${ADD_OPENS[@]}" "${JVM_FLAGS[@]}" \
  -Dspark.ui.enabled=false -Dspark.sql.session.timeZone=UTC \
  -cp "target/scala-2.13/classes:/opt/spark/jars/*" "$@"
