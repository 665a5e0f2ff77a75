#!/bin/bash
# Run a graft main class on the compiled classes + /opt/spark/jars WITHOUT
# sbt (so long-running probes/benches don't hold the sbt project lock).
# Usage: JRUN_MEM=24g scripts/jrun.sh graft.tools.TimeQuery <args...>
# JVM flags come from scripts/jvm.flags, the list build.sbt also reads.
set -e
mapfile -t JVM_FLAGS < <(grep -Ev '^[[:space:]]*(#|$)' "$(dirname "$0")/jvm.flags")
CLASSES="$(dirname "$0")/../target/scala-2.13/classes"
CP="$CLASSES:$(ls /opt/spark/jars/*.jar | tr '\n' ':')"
MEM="${JRUN_MEM:-24g}"
exec java -Xmx"$MEM" "${JVM_FLAGS[@]}" -cp "$CP" "$@"
