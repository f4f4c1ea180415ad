#!/bin/bash
# Paired, interleaved A/B of two git revisions on the full-suite Bench.
# Each revision is built from a fresh checkout of its own (`git archive`
# into a temp dir, then `sbt compile` there), so neither arm reuses the
# other's build or sees uncommitted files; each arm runs with its own
# launcher and classes. Base and after alternate round by round, and so
# does the arm that runs first (base first on odd rounds), so host drift
# and a warm page cache land on both arms. Each run writes its own
# artifact with loadavg and cores fields. Cores: SPARK_GRAFT_CPUS, else
# the host's core count (graft.Sessions). Passing the same revision
# twice makes the call an A/A control. sbt reads SBT_OPTS and
# COURSIER_MODE from the environment, as for any build of this repo.
# Usage: ab_bench.sh <baseRev> <afterRev> <rounds> <outPrefix>
# Example: SPARK_GRAFT_SF_DIR=data/sf0.001 tools/run/ab_bench.sh HEAD~1 HEAD 1 ab
set -e
if [ $# -ne 4 ]; then
  echo "usage: $0 <baseRev> <afterRev> <rounds> <outPrefix>" >&2
  exit 2
fi
BASE=$1; AFTER=$2; ROUNDS=$3; PREFIX=$4
SF=${SPARK_GRAFT_SF_DIR:?set SPARK_GRAFT_SF_DIR to the dataset dir}
REPO=$(git -C "$(dirname "$0")" rev-parse --show-toplevel)
TMP=$(mktemp -d "${TMPDIR:-/tmp}/ab_bench.XXXXXX")
trap 'rm -rf "$TMP"' EXIT
for arm in base after; do
  rev=$BASE; [ "$arm" = after ] && rev=$AFTER
  mkdir "$TMP/$arm"
  git -C "$REPO" archive "$rev" | tar -x -C "$TMP/$arm"
  echo "== $arm: $(git -C "$REPO" rev-parse --short "$rev") in $TMP/$arm"
  if ! (cd "$TMP/$arm" && sbt --batch -Dsbt.log.noformat=true compile \
      > "$TMP/$arm-build.log" 2>&1); then
    tail -20 "$TMP/$arm-build.log" >&2
    echo "build failed: $arm" >&2
    exit 1
  fi
done
for i in $(seq 1 "$ROUNDS"); do
  arms="base after"; [ $((i % 2)) -eq 0 ] && arms="after base"
  for arm in $arms; do
    out="${PREFIX}_${arm}${i}.json"
    echo "== round $i arm $arm -> $out (loadavg $(cut -d' ' -f1 /proc/loadavg), cores ${SPARK_GRAFT_CPUS:-$(nproc)})"
    SPARK_GRAFT_SF_DIR=$SF SPARK_GRAFT_BENCH_OUT=$out \
      "$TMP/$arm/tools/run/java_main_cp.sh" graft.Bench \
      > "${PREFIX}_${arm}${i}.log" 2>&1
    tail -c 400 "${PREFIX}_${arm}${i}.log" | tail -1
  done
done
echo AB_DONE
