#!/usr/bin/env bash
# Bench runner (BASELINE.md): fresh JVM per pass, direct java (no sbt),
# fixed heap -Xms=-Xmx (default 16g; the comment above the java command
# says why not more).
#
# Usage:
#   tools/bench.sh                         # full pass, sf0.1, local[32]
#   SPARK_GRAFT_BENCH_ONLY=q119_unpivot,q197_image_phash tools/bench.sh
#   SPARK_GRAFT_SF_DIR=/root/testdata/gen-sf1 tools/bench.sh
#   HEAP=48g CPUS=32 tools/bench.sh
# Compile first: sbt -batch compile (this script does NOT rebuild).
set -euo pipefail
cd "$(dirname "$0")/.."

HEAP="${HEAP:-16g}"
CPUS="${CPUS:-32}"
# src/main/resources rides the classpath directly, and FIRST: bare
# `sbt compile` does NOT run copyResources (a fresh target/ would miss the
# oracle-SQL resource files), and when target/classes DOES hold copies
# from an earlier `sbt test`, they may be STALE — the source tree is the
# truth, so it must shadow the copies, not the other way around.
CP="src/main/resources:target/scala-2.13/classes:/opt/spark/jars/*"

ADD_OPENS=()
for p in java.lang java.lang.invoke java.lang.reflect java.io java.net \
         java.nio java.util java.util.concurrent java.util.concurrent.atomic; do
  ADD_OPENS+=(--add-opens "java.base/$p=ALL-UNNAMED")
done
for p in sun.nio.ch sun.nio.cs sun.security.action sun.util.calendar; do
  ADD_OPENS+=(--add-opens "java.base/$p=ALL-UNNAMED")
done

# MAIN overrides the entrypoint (e.g. MAIN=graft.tools.ScaleUp for
# scale-dir generation under the same JVM shape).
# -XX:+AlwaysPreTouch + a 16g default heap: this VM's first-touch page
# faulting is pathologically slow AND super-linear in heap size (measured
# with `java -version`: 8g=1s, 16g=14s, 48g=232s wall just to fault the
# heap). Un-pre-touched, that cost lands INSIDE measure windows as G1
# marches through fresh regions — the round-9 "zero-GC, clean-calibration
# multi-10s stall" signature (JFR-attributed to Array.fill/copyAs page
# faults). 16g + pre-touch pays 14s at startup, outside every window; 48g
# made the tax 25x bigger for zero GC benefit at sf0.1.
exec env SPARK_GRAFT_CPUS="$CPUS" \
  java -cp "$CP" "${ADD_OPENS[@]}" \
  -Xms"$HEAP" -Xmx"$HEAP" -XX:+AlwaysPreTouch \
  -Dspark.ui.enabled=false -Dspark.sql.session.timeZone=UTC \
  -Dderby.stream.error.file=/tmp/derby.log \
  "${MAIN:-graft.Bench}" "$@"
