#!/bin/bash
# Fast runner for graft mains without sbt startup overhead.
# usage: tools/run_graft.sh graft.Verify /root/testdata/sf0.01 /tmp/verify_out
# Every main (Bench, Profile, Verify, PlanDump, ScaleProbe) builds its
# session through graft.Runner: SPARK_GRAFT_CPUS (default: every core)
# sets local[N] and shuffle partitions; SPARK_GRAFT_ONLY=q1,q12 runs only
# the named queries. SPARK_DRIVER_MEM (default 8g) sets the heap.
set -e
CP="/root/repo/target/scala-2.13/classes:/opt/spark/jars/*"
ADD_OPENS=""
for p in java.base/java.lang java.base/java.lang.invoke java.base/java.lang.reflect \
  java.base/java.io java.base/java.net java.base/java.nio java.base/java.util \
  java.base/java.util.concurrent java.base/java.util.concurrent.atomic \
  java.base/sun.nio.ch java.base/sun.nio.cs java.base/sun.security.action \
  java.base/sun.util.calendar; do
  ADD_OPENS="$ADD_OPENS --add-opens $p=ALL-UNNAMED"
done
# Large code cache: 27 codegen'd queries in one session exhaust the
# default 240m cache, after which the JIT stops compiling and whole-stage
# codegen runs interpreted (10-30x slowdowns late in the run).
exec java $ADD_OPENS -Xmx"${SPARK_DRIVER_MEM:-8g}" \
  -XX:ReservedCodeCacheSize=1g \
  -Dspark.ui.enabled=false -Dspark.sql.session.timeZone=UTC \
  -cp "$CP" "$@"
