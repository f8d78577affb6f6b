#!/usr/bin/env bash
# Interleaved A/B of the pipeline benchmark: the base commit against the
# working tree, in alternating pairs.
#
#   tools/perfbench_ab.sh <workload> <pairs> [base-ref]
#
# base-ref defaults to HEAD, the parent of uncommitted work; pass HEAD~1
# to measure a committed change against its parent. The base runs from a
# temporary `git worktree` of base-ref under .bench_build/ab/ (removed on
# exit). Pair i runs perfbench (`python3 perfbench/run.py --workload <w>
# --seed <i> --seconds <s> --trace 0`, s being BENCHMARK.json's
# run_seconds) once on each side, base first in odd pairs and change
# first in even ones, so drift in host speed falls on both sides alike.
#
# Prints each pair's end-to-end metrics, then per metric each side's
# median and quartiles, the change's win count (ties count for neither)
# and whether it meets the gain rule: wins in at least 9/10 of the pairs
# and a median gap larger than the base's interquartile range. Result
# lines are kept in .bench_build/ab/<workload>.jsonl.
set -euo pipefail

if [ $# -lt 2 ]; then
  echo "usage: $0 <workload> <pairs> [base-ref]" >&2
  exit 2
fi
workload=$1
pairs=$2
case $pairs in ''|*[!0-9]*|0) echo "pairs must be a positive integer" >&2; exit 2 ;; esac
ref=${3:-HEAD}
root=$(git -C "$(dirname "$0")/.." rev-parse --show-toplevel)
seconds=$(python3 -c 'import json,sys; print(json.load(open(sys.argv[1]))["run_seconds"])' "$root/BENCHMARK.json")
out=$root/.bench_build/ab/$workload.jsonl
mkdir -p "$(dirname "$out")"
: > "$out"

base=$root/.bench_build/ab/base-$$
git -C "$root" worktree add --detach --quiet "$base" "$ref"
trap 'git -C "$root" worktree remove --force "$base"' EXIT
echo "base: $base ($(git -C "$base" rev-parse --short HEAD))" >&2
echo "change: $root (working tree)" >&2

# run <side> <dir> <pair>: one perfbench run, its result line appended to $out.
run() {
  local line
  line=$(cd "$2" && python3 perfbench/run.py --workload "$workload" --seed "$3" \
    --seconds "$seconds" --trace 0 | tail -n 1)
  python3 -c 'import json,sys; r=json.loads(sys.argv[1]); r.update(side=sys.argv[2], pair=int(sys.argv[3])); print(json.dumps(r))' \
    "$line" "$1" "$3" >> "$out"
  echo "pair $3 $1: $line"
}

for i in $(seq 1 "$pairs"); do
  if [ $((i % 2)) -eq 1 ]; then
    run base "$base" "$i"; run change "$root" "$i"
  else
    run change "$root" "$i"; run base "$base" "$i"
  fi
done

python3 - "$out" "$root/BENCHMARK.json" <<'EOF'
import json, statistics, sys

runs = [json.loads(l) for l in open(sys.argv[1])]
bench = json.load(open(sys.argv[2]))
by_pair = {}
for r in runs:
    by_pair.setdefault(r["pair"], {})[r["side"]] = r
pairs = [p for _, p in sorted(by_pair.items()) if len(p) == 2]

def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, q2, q3

print(f"\n{len(pairs)} pairs; failed/attempted: " + ", ".join(
    f"{s} {sum(p[s]['failed'] for p in pairs)}/{sum(p[s]['attempted'] for p in pairs)}"
    for s in ("base", "change")))
print(f"{'metric':<18} {'base q1/med/q3':>26} {'change q1/med/q3':>26} {'wins':>7}  gain rule")
for m in bench["end_to_end"]:
    name, lower = m["name"], m["better"] == "lower"
    b = [p["base"]["metrics"][name]["value"] for p in pairs]
    c = [p["change"]["metrics"][name]["value"] for p in pairs]
    wins = sum(1 for x, y in zip(b, c) if (y < x if lower else y > x))
    bq, cq = quartiles(b), quartiles(c)
    gap = (bq[1] - cq[1]) if lower else (cq[1] - bq[1])
    met = wins * 10 >= 9 * len(pairs) and gap > bq[2] - bq[0]
    fmt = lambda q: "/".join(f"{v:.2f}" for v in q)
    print(f"{name:<18} {fmt(bq):>26} {fmt(cq):>26} {wins:>3}/{len(pairs):<3}  "
          f"{'met' if met else 'not met'} (median gap {gap:+.2f}, base IQR {bq[2] - bq[0]:.2f})")
EOF
