#!/usr/bin/env bash
# Empirical scaling study (r16): full Bench at sf0.1 and at the
# ScaleUp-generated sf1 (10x rows), back-to-back in ONE measurement
# window with tools/benchwindow.sh probes before/between/after, so the
# per-entry ratio t(sf1)/t(sf0.1) is a same-window measurement and the
# window classification rides in the artifact. Results land in
# /tmp/scaling_{sf01,sf1}.{out,json}; the analysis + recorded table is
# BASELINE.md "Round-16 scaling exponents".
#
# Both arms run the SAME JVM shape as the sbt-forked gate bench
# (build.sbt javaOptions; identical to tools/benchwindow.sh) with
# reps=3 medians and extra-reps disabled (at sf1 most entries exceed
# the 1s extra-rep bound, which would triple the run without changing
# a median-of-3 ratio).
# Usage: tools/scaling_study.sh [sf01Dir] [sf1Dir]
set -u
SF01="${1:-/root/testdata/sf0.1}"
SF1="${2:-scratch/sf1}"
JAR="target/scala-2.13/mapreduce_codespark_2.13-0.1.0.jar"
[ -f "$JAR" ] || { echo "run 'sbt package' first"; exit 2; }
[ -d "$SF1" ] || { echo "run 'sbt \"runMain graft.ScaleUp\"' first"; exit 2; }

OPENS=""
for p in java.lang java.lang.invoke java.lang.reflect java.io java.net \
         java.nio java.util java.util.concurrent java.util.concurrent.atomic; do
  OPENS="$OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
for p in sun.nio.ch sun.nio.cs sun.security.action sun.util.calendar; do
  OPENS="$OPENS --add-opens java.base/$p=ALL-UNNAMED"
done

bench() { # $1 sfdir, $2 tag
  SPARK_GRAFT_SF_DIR="$1" SPARK_GRAFT_CPUS="${SPARK_GRAFT_CPUS:-$(nproc)}" \
  SPARK_GRAFT_BENCH_REPS=3 SPARK_GRAFT_BENCH_EXTRA_ABOVE=1e9 \
  SPARK_GRAFT_BENCH_SAMPLES="/tmp/scaling_$2.json" \
  java $OPENS -Xmx"${SPARK_DRIVER_MEM:-8g}" \
    -Dspark.ui.enabled=false -Dspark.sql.session.timeZone=UTC \
    -cp "$JAR:/opt/spark/jars/*" graft.Bench \
    >"/tmp/scaling_$2.out" 2>"/tmp/scaling_$2.err"
  grep '"total_compact"' "/tmp/scaling_$2.out" | tail -1
}

echo "== probe (before) =="; tools/benchwindow.sh "$SF01"
echo "== bench sf0.1 ==";    bench "$SF01" sf01
echo "== probe (between) =="; tools/benchwindow.sh "$SF01"
echo "== bench sf1 ==";      bench "$SF1" sf1
echo "== probe (after) ==";  tools/benchwindow.sh "$SF01"
