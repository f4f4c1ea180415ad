#!/bin/bash
# Paired, interleaved perfbench A/B of two git revisions, each run from a
# fresh checkout of its own (`git archive` into a temp dir), so neither
# arm reuses the other's build or sees uncommitted files. Pair i runs
# both arms at the i-th seed; the arm that runs first alternates pair by
# pair (parent first on odd pairs), so host drift lands on both arms.
# Prints each pair's four end-to-end metrics, then per metric the
# medians, the parent's interquartile range and how many pairs the
# change won (all four are lower-is-better). Passing the same revision
# twice makes the call an A/A control.
# Usage: ab_perfbench.sh <parentRev> <changeRev> <workload> <seed>...
# Example: tools/run/ab_perfbench.sh HEAD~1 HEAD graph_kernels 41 42 43
set -e
if [ $# -lt 4 ]; then
  echo "usage: $0 <parentRev> <changeRev> <workload> <seed>..." >&2
  exit 2
fi
PARENT=$1; CHANGE=$2; WORKLOAD=$3; shift 3
REPO=$(git -C "$(dirname "$0")" rev-parse --show-toplevel)
TMP=$(mktemp -d "${TMPDIR:-/tmp}/ab_perfbench.XXXXXX")
trap 'rm -rf "$TMP"' EXIT
for arm in parent change; do
  rev=$PARENT; [ "$arm" = change ] && rev=$CHANGE
  mkdir "$TMP/$arm"
  git -C "$REPO" archive "$rev" | tar -x -C "$TMP/$arm"
  echo "== $arm: $(git -C "$REPO" rev-parse --short "$rev") in $TMP/$arm"
done
i=0
for seed in "$@"; do
  i=$((i + 1))
  arms="parent change"; [ $((i % 2)) -eq 0 ] && arms="change parent"
  for arm in $arms; do
    echo "== pair $i seed $seed arm $arm (loadavg $(cut -d' ' -f1 /proc/loadavg))"
    if ! (cd "$TMP/$arm" && python3 perfbench/run.py --workload "$WORKLOAD" \
        --seed "$seed" --seconds 20 --trace 0 > "$TMP/$arm.out" \
        2> "$TMP/$arm.err"); then
      tail -20 "$TMP/$arm.err" >&2
      echo "perfbench failed: pair $i seed $seed arm $arm" >&2
      exit 1
    fi
    tail -1 "$TMP/$arm.out" | tee "$TMP/$arm-$i.json"
  done
done
python3 - "$TMP" "$i" <<'EOF'
import json, statistics, sys
tmp, pairs = sys.argv[1], int(sys.argv[2])
keys = ("setup_s", "cold_cpu_s", "warm_cpu_s", "retained_heap_mb")
runs = {arm: [json.load(open(f"{tmp}/{arm}-{i}.json"))
              for i in range(1, pairs + 1)] for arm in ("parent", "change")}
print("pair " + " ".join(f"{k:>27}" for k in keys) + "  failed")
for i in range(pairs):
    p, c = runs["parent"][i], runs["change"][i]
    cells = [f"{p['metrics'][k]['value']:>12.3f} ->{c['metrics'][k]['value']:>12.3f}"
             for k in keys]
    print(f"{i + 1:>4} " + " ".join(cells) + f"  {p['failed']}/{c['failed']}")
print("metric              parent_median change_median   delta  "
      "parent_iqr  change_won")
for k in keys:
    p = [r["metrics"][k]["value"] for r in runs["parent"]]
    c = [r["metrics"][k]["value"] for r in runs["change"]]
    pm, cm = statistics.median(p), statistics.median(c)
    q = statistics.quantiles(p, n=4) if pairs > 1 else [pm, pm, pm]
    won = sum(b < a for a, b in zip(p, c))
    print(f"{k:<18} {pm:>14.3f} {cm:>13.3f} {(cm - pm) / pm:>+7.1%} "
          f"{q[2] - q[0]:>11.3f}  {won}/{pairs}")
print("failed ops: parent %d, change %d" % tuple(
    sum(r["failed"] for r in runs[arm]) for arm in ("parent", "change")))
EOF
