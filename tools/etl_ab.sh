#!/usr/bin/env bash
# Paired A/B of the etl_daily benchmark between a parent checkout and this one.
#
#   tools/etl_ab.sh <parent-checkout> <seed> <seed>...
#
# For each seed, runs `perfbench/run.py --workload etl_daily --seed N
# --seconds 10 --trace 0` once in each checkout, alternating which side runs
# first from seed to seed. Then prints, for every end-to-end metric, each
# side's quartiles and median, the change's median delta and how many pairs
# the change won (lower is better for all of them; ties count for neither),
# plus every run's correctness and the CPU steal share of its window.
# The raw context and result lines are kept in the directory printed first.
set -euo pipefail

if [ $# -lt 3 ]; then
  echo "usage: $0 <parent-checkout> <seed> <seed>..." >&2
  exit 2
fi
parent=$(cd "$1" && pwd)
change=$(cd "$(dirname "$0")/.." && pwd)
shift
out=$(mktemp -d -t etl_ab.XXXXXX)
echo "raw results: $out"

run() { # side dir seed
  local log="$out/$1-$3"
  (cd "$2" && python3 perfbench/run.py --workload etl_daily --seed "$3" \
    --seconds 10 --trace 0) > "$log.out" 2> "$log.err" ||
    { echo "$1 seed $3 failed; see $log.err" >&2; exit 1; }
  tail -n 2 "$log.out" > "$log.json"
}

i=0
for seed in "$@"; do
  if [ $((i % 2)) -eq 0 ]; then
    run parent "$parent" "$seed"; run change "$change" "$seed"
  else
    run change "$change" "$seed"; run parent "$parent" "$seed"
  fi
  echo "seed $seed done" >&2
  i=$((i + 1))
done

python3 - "$out" "$@" <<'EOF'
import json, statistics, sys
out, seeds = sys.argv[1], sys.argv[2:]

def load(side, seed):
    ctx, res = (json.loads(l) for l in open(f"{out}/{side}-{seed}.json"))
    return ctx, res

def quartiles(xs):
    q1, med, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, med, q3

runs = {(s, side): load(side, s) for s in seeds for side in ("parent", "change")}
metrics = list(runs[(seeds[0], "parent")][1]["metrics"])
print(f"{len(seeds)} pairs, seeds {' '.join(seeds)}")
print(f"{'metric':<12} {'parent q1/med/q3':>26} {'change q1/med/q3':>26} {'delta':>8} {'wins':>6}")
for m in metrics:
    p = [runs[(s, 'parent')][1]["metrics"][m]["value"] for s in seeds]
    c = [runs[(s, 'change')][1]["metrics"][m]["value"] for s in seeds]
    pq, cq = quartiles(p), quartiles(c)
    wins = sum(cv < pv for pv, cv in zip(p, c))
    fmt = lambda q: "/".join(f"{v:.3f}" for v in q)
    print(f"{m:<12} {fmt(pq):>26} {fmt(cq):>26} {(cq[1] / pq[1] - 1) * 100:>+7.1f}% "
          f"{wins:>3}/{len(seeds)}")
print("parent IQR vs median gap:")
for m in metrics:
    p = [runs[(s, 'parent')][1]["metrics"][m]["value"] for s in seeds]
    c = [runs[(s, 'change')][1]["metrics"][m]["value"] for s in seeds]
    pq = quartiles(p)
    print(f"  {m:<12} IQR {pq[2] - pq[0]:.3f}  |median gap| "
          f"{abs(statistics.median(c) - statistics.median(p)):.3f}")
print("runs (side seed correct failed/attempted steal_share):")
for (s, side), (ctx, res) in runs.items():
    print(f"  {side:<6} {s:>6} {res['correct']!s:<5} {res['failed']}/{res['attempted']} "
          f"{ctx['host']['steal_share']:.4f}")
EOF
