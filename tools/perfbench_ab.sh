#!/usr/bin/env bash
# Same-box interleaved A/B of the perfbench workloads: the committed files
# of <parent-sha> against this checkout's working tree (tracked and
# untracked files, ignored ones left out). Each side runs from a fresh
# copy with no .bench_build/ or sbt state: a working checkout's leftovers
# slow cdc_catchup. Each pair runs both sides back to back with the same
# seed, and which side runs first alternates from pair to pair. Each run
# lasts BENCHMARK.json's run_seconds; the first run on each side builds
# (about a minute).
#
# Usage: tools/perfbench_ab.sh <parent-sha> [pairs=10] [workloads]
#   workloads: comma-separated, default cdc_catchup,cdc_live,query_mix
#
# Prints, per workload and end-to-end metric: each side's median and
# quartiles, the change/parent ratio of the medians, the pairs the change
# won, and whether the medians differ in the better direction by more
# than the parent's interquartile range. Then each side's
# failed_frac. A run that printed no result counts as failed and wins no
# pair. The result lines stay in the work dir named on stderr.
set -euo pipefail
ROOT=$(cd "$(dirname "$0")/.." && pwd)
PARENT=${1:?usage: tools/perfbench_ab.sh <parent-sha> [pairs=10] [workloads]}
PAIRS=${2:-10}
WORKLOADS=${3:-cdc_catchup,cdc_live,query_mix}
RUN_S=$(python3 -c 'import json, sys; print(json.load(open(sys.argv[1]))["run_seconds"])' \
  "$ROOT/BENCHMARK.json")
WORK=$(mktemp -d "${TMPDIR:-/tmp}/perfbench-ab-XXXX")
echo "[ab] parent=$PARENT pairs=$PAIRS workloads=$WORKLOADS seconds=$RUN_S dir=$WORK" >&2

mkdir "$WORK/parent" "$WORK/change"
git -C "$ROOT" archive "$PARENT" | tar -x -C "$WORK/parent"
(cd "$ROOT" && git ls-files -z -co --exclude-standard |
  tar --null -T - -c --ignore-failed-read) | tar -x -C "$WORK/change"

for i in $(seq 1 "$PAIRS"); do
  for w in ${WORKLOADS//,/ }; do
    if [ $((i % 2)) = 1 ]; then order="parent change"; else order="change parent"; fi
    for side in $order; do
      echo "[ab] pair $i $w $side" >&2
      (cd "$WORK/$side" && python3 perfbench/run.py --workload "$w" --seed "$i" \
        --seconds "$RUN_S" --trace 0 2>>"$WORK/$side.log" | tail -1 \
        > "$WORK/$side-$w-$i.json") || true
    done
  done
done

python3 - "$WORK" "$PAIRS" "$WORKLOADS" "$ROOT/BENCHMARK.json" <<'EOF'
import json
import statistics
import sys
from pathlib import Path

work, pairs, workloads = Path(sys.argv[1]), int(sys.argv[2]), sys.argv[3].split(",")
better = {m["name"]: m["better"] for m in json.load(open(sys.argv[4]))["end_to_end"]}
sides = ("parent", "change")


def load(side, w, i):
    try:
        r = json.loads((work / f"{side}-{w}-{i}.json").read_text())
        return r if "metrics" in r else None
    except (OSError, ValueError):
        return None


def quartiles(xs):
    if len(xs) < 2:
        return (xs[0], xs[0]) if xs else (float("nan"), float("nan"))
    q = statistics.quantiles(xs, n=4, method="inclusive")
    return q[0], q[2]


for w in workloads:
    runs = {s: [load(s, w, i) for i in range(1, pairs + 1)] for s in sides}
    print(f"== {w}")
    for m, b in better.items():
        vals = {s: [r["metrics"][m]["value"] if r else None for r in runs[s]] for s in sides}
        cols = []
        for s in sides:
            xs = [v for v in vals[s] if v is not None]
            med = statistics.median(xs) if xs else float("nan")
            q1, q3 = quartiles(xs)
            cols.append((med, q1, q3))
        wins = sum(1 for p, c in zip(vals["parent"], vals["change"])
                   if p is not None and c is not None and (c < p if b == "lower" else c > p))
        (pm, pq1, pq3), (cm, cq1, cq3) = cols
        gain = (pm - cm if b == "lower" else cm - pm) > pq3 - pq1
        ratio = cm / pm if pm else float("nan")
        print(f"  {m:15s} parent {pm:10.2f} [{pq1:.2f}, {pq3:.2f}]  "
              f"change {cm:10.2f} [{cq1:.2f}, {cq3:.2f}]  ratio {ratio:.3f}  "
              f"won {wins}/{pairs}  gain>parent-IQR {'yes' if gain else 'no'}")
    for s in sides:
        attempted = sum(int(r["attempted"]) if r else 1 for r in runs[s])
        failed = sum(int(r["failed"]) if r else 1 for r in runs[s])
        print(f"  failed_frac {s} {failed / max(1, attempted):.6f}")
EOF
