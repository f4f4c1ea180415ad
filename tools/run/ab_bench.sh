#!/bin/bash
# Paired, interleaved A/B of two class snapshots: alternate base/after
# full-suite Bench runs so host drift lands on both arms. The arm that
# runs first alternates too (base first on odd rounds, after first on
# even rounds), so a warm host or page cache does not always favour the
# same arm. Each run writes its own artifact with loadavg and cores
# fields. Cores: SPARK_GRAFT_CPUS, else the host's core count
# (graft.Sessions).
# Usage: ab_bench.sh <baseClasses> <afterClasses> <rounds> <outPrefix>
set -e
BASE=$1; AFTER=$2; ROUNDS=$3; PREFIX=$4
SF=${SPARK_GRAFT_SF_DIR:-/root/testdata/sf0.1}
DIR=$(dirname "$0")
for i in $(seq 1 "$ROUNDS"); do
  arms="base after"; [ $((i % 2)) -eq 0 ] && arms="after base"
  for arm in $arms; do
    cls=$BASE; [ "$arm" = after ] && cls=$AFTER
    out="${PREFIX}_${arm}${i}.json"
    echo "== round $i arm $arm -> $out (loadavg $(cut -d' ' -f1 /proc/loadavg), cores ${SPARK_GRAFT_CPUS:-$(nproc)})"
    SPARK_GRAFT_SF_DIR=$SF SPARK_GRAFT_BENCH_OUT=$out GRAFT_CLASSES=$cls \
      "$DIR/java_main_cp.sh" graft.Bench > "/tmp/ab_${arm}${i}.log" 2>&1
    tail -c 400 "/tmp/ab_${arm}${i}.log" | tail -1
  done
done
echo AB_DONE
