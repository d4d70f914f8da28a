#!/usr/bin/env bash
# Same-host, back-to-back A/B bench: the previous round's commit vs
# HEAD on a pinned restricted query set. This is the ONLY sound way to
# compare performance across rounds on a shared box — rounds 11 and 12
# both recorded +14-18% "regressions" that a judge-run same-day A/B
# proved were the host being slower week-over-week (the r11 binary
# re-measured within ~3% of HEAD). Absolute totals are only comparable
# WITHIN a run; cross-round claims use the ratio this script emits.
#
# Usage: tools/bench_ab.sh [<prev-commit>] [<sf-dir>]
#   prev-commit default: the newest commit whose subject starts
#   "round " (the round-boundary snapshot the driver writes).
#   sf-dir default: /root/testdata/sf0.1
#
# Output: tools/AB_latest.json
#   {"prev_commit":…,"head_commit":…,"sf":…,"queries":[…],
#    "prev":{q:sec,…},"head":{q:sec,…},
#    "total_prev":…,"total_head":…,"ratio":head/prev,
#    "pair_ratios":[head1/prev1, head2/prev2]}
# graft.Bench embeds this file as the "ab" key of its stdout line when
# it runs the full set, so the round artifact carries the ratio.
set -euo pipefail
cd "$(dirname "$0")/.."

# no pipe here: awk's early exit would SIGPIPE git under pipefail
GL=$(mktemp); git log --format='%H %s' -n 200 > "$GL"
PREV="${1:-$(awk '$2=="round" {print $1; exit}' "$GL")}"
rm -f "$GL"
[ -n "$PREV" ] || { echo "[ab] no previous round commit found" >&2; exit 1; }
SF="${2:-/root/testdata/sf0.1}"
HEAD_SHA=$(git rev-parse HEAD)
# The pinned set: the round-12 judge's adjudication set — the slowest
# stateful/iterative queries plus a spread of batch shapes. Substrings
# are chosen to match exactly one query each (underscore-anchored).
# ec1x added round 14 (the round-13 full run showed +12% there outside
# this set — the blocked-similarity tier is now covered).
ONLY="scc1,iv2,st7_,st13,st2_,ds1,dr1_,dc3,dt1,ec1x"

echo "[ab] prev=$PREV head=$HEAD_SHA sf=$SF" >&2

WT=$(mktemp -d /tmp/graft-ab-XXXX)
git worktree add --detach "$WT" "$PREV" >&2
trap 'git worktree remove --force "$WT" >/dev/null 2>&1 || true' EXIT

run_bench() { # $1 = repo dir, $2 = output json name
  ( cd "$1" &&
    SPARK_GRAFT_SF_DIR="$SF" SPARK_GRAFT_CPUS="${SPARK_GRAFT_CPUS:-32}" \
    SPARK_GRAFT_ONLY="$ONLY" sbt -batch "runMain graft.Bench" >&2 )
  cp "$1/bench_restricted.json" "$2"
}

# INTERLEAVED passes, per-query MIN of two (round 14): single-pass
# A/B readings on this host swing +-20% run-to-run (identical-code
# prev totals measured 35-50s across three round-14 runs), and the
# swing is correlated within a pass, not per query. The passes run
# prev/head/head/prev, so each side takes one first and one second
# slot of a pair: under prev/head/prev/head head always ran second,
# and an A/A control (the same commit on both sides) read 1.132.
run_bench "$WT" /tmp/graft-ab-prev1.json
run_bench "$PWD" /tmp/graft-ab-head1.json
run_bench "$PWD" /tmp/graft-ab-head2.json
run_bench "$WT" /tmp/graft-ab-prev2.json

python3 - "$PREV" "$HEAD_SHA" "$SF" <<'EOF'
import json, sys
prev_sha, head_sha, sf = sys.argv[1:4]
def load(name):
    return json.load(open(f'/tmp/graft-ab-{name}.json'))['queries']
runs = {n: load(n) for n in ('prev1', 'head1', 'head2', 'prev2')}
common = sorted(set.intersection(*(set(r) for r in runs.values())))
def total(r):
    return sum(r[q] for q in common)
def minmerge(a, b):
    return {q: min(a[q], b[q]) for q in common}
pq = minmerge(runs['prev1'], runs['prev2'])
hq = minmerge(runs['head1'], runs['head2'])
tp, th = total(pq), total(hq)
# pair 1 = (prev1, head1), pair 2 = (head2, prev2): one slot order each
pairs = [round(total(runs[h]) / total(runs[p]), 4) if total(runs[p]) else None
         for p, h in (('prev1', 'head1'), ('prev2', 'head2'))]
out = {
  'prev_commit': prev_sha[:12], 'head_commit': head_sha[:12], 'sf': sf,
  'queries': common,
  'prev': {q: round(pq[q], 3) for q in common},
  'head': {q: round(hq[q], 3) for q in common},
  'total_prev': round(tp, 2), 'total_head': round(th, 2),
  'ratio': round(th / tp, 4) if tp else None,
  'pair_ratios': pairs,
}
json.dump(out, open('tools/AB_latest.json', 'w'), indent=1)
print(f"[ab] total_prev={tp:.2f}s total_head={th:.2f}s "
      f"ratio={th/tp:.3f} (pairs: {', '.join(f'{r:.3f}' for r in pairs)}) "
      f"over {len(common)} queries")
EOF
