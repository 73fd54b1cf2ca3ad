#!/usr/bin/env bash
# Interleaved A/B of the benchmark (perfbench/run.py) between a base commit
# and a change, summarized by the pairs rule: the change claims a gain on a
# metric only if it wins >= 9/10 of the pairs (ties count for neither) and
# its median beats the base median by more than the base's interquartile
# range.
#
#   tools/ab_perfbench.sh WORKLOAD [PAIRS] [FIRST_SEED]
#   make ab WORKLOAD=corpus_dedup PAIRS=10 [SEED=41]
#
# The base side is BASE (default HEAD), extracted with git archive; the
# change side is a copy of the working tree: tracked files plus untracked,
# non-ignored ones, as they are on disk.  Every run lasts BENCHMARK.json's
# run_seconds.  Pair i runs seed FIRST_SEED + i (default 1) on both sides
# and swaps which side goes first every pair.  Every run happens in a
# temporary copy, so nothing is written under the checkout.  Each run's
# result prints as one "run" line; the summary follows, one line per
# end-to-end metric.
set -euo pipefail

workload=${1:?usage: tools/ab_perfbench.sh WORKLOAD [PAIRS] [FIRST_SEED]}
pairs=${2:-10}
seed0=${3:-1}
root=$(git -C "$(dirname "$0")" rev-parse --show-toplevel)
base=${BASE:-HEAD}
seconds=$(python3 -c 'import json,sys; print(json.load(open(sys.argv[1]))["run_seconds"])' "$root/BENCHMARK.json")

tmp=$(mktemp -d "${TMPDIR:-/tmp}/ab_perfbench.XXXXXX")
trap 'rm -rf "$tmp"' EXIT
mkdir -p "$tmp/base" "$tmp/change"
git -C "$root" archive "$base" | tar -x -C "$tmp/base"
(cd "$root" && git ls-files -z -co --exclude-standard \
    | while IFS= read -r -d '' f; do [ -e "$f" ] && printf '%s\0' "$f"; done \
    | tar --null -T - -cf -) | tar -x -C "$tmp/change"
echo "ab: workload=$workload pairs=$pairs seeds=$seed0..$((seed0 + pairs - 1)) seconds=$seconds base=$(git -C "$root" rev-parse --short "$base") change=worktree"

results="$tmp/results.jsonl"
run_side() {  # side pair seed
    local out
    out=$(cd "$tmp/$1" && python3 perfbench/run.py --workload "$workload" --seed "$3" \
        --seconds "$seconds" --trace 0 2>"$tmp/run.log" | tail -n 1) \
        || { tail -n 20 "$tmp/run.log" >&2; exit 1; }
    local line
    line=$(python3 -c 'import json,sys; r=json.loads(sys.argv[4]); print(json.dumps({"side": sys.argv[1], "pair": int(sys.argv[2]), "seed": int(sys.argv[3]), "failed": r["failed"], "attempted": r["attempted"], "metrics": {k: v["value"] for k, v in r["metrics"].items()}}))' "$1" "$2" "$3" "$out")
    echo "run: $line"
    echo "$line" >> "$results"
}

for ((i = 0; i < pairs; i++)); do
    seed=$((seed0 + i))
    if ((i % 2 == 0)); then
        run_side base "$i" "$seed"; run_side change "$i" "$seed"
    else
        run_side change "$i" "$seed"; run_side base "$i" "$seed"
    fi
done

python3 - "$results" "$root/BENCHMARK.json" <<'PY'
import json
import statistics
import sys

runs = [json.loads(ln) for ln in open(sys.argv[1])]
spec = json.load(open(sys.argv[2]))
by = {(r["side"], r["pair"]): r for r in runs}
pairs = sorted({r["pair"] for r in runs})


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, q2, q3


for side in ("base", "change"):
    att = sum(by[side, p]["attempted"] for p in pairs)
    bad = sum(by[side, p]["failed"] for p in pairs)
    print(f"{side}: {bad} of {att} operations failed")
print(f"{'metric':<12} {'base q1/med/q3':>26} {'change q1/med/q3':>26} {'won':>6}  gain rule")
for m in spec["end_to_end"]:
    name, higher = m["name"], m["better"] == "higher"
    b = [by["base", p]["metrics"][name] for p in pairs]
    c = [by["change", p]["metrics"][name] for p in pairs]
    won = sum((y > x) if higher else (y < x) for x, y in zip(b, c))
    bq1, bmed, bq3 = quartiles(b)
    cq1, cmed, cq3 = quartiles(c)
    gain = (cmed - bmed) if higher else (bmed - cmed)
    met = won * 10 >= 9 * len(pairs) and gain > bq3 - bq1
    rel = (cmed - bmed) / bmed if bmed else float("nan")
    print(
        f"{name:<12} {bq1:8.4g}/{bmed:8.4g}/{bq3:8.4g} {cq1:8.4g}/{cmed:8.4g}/{cq3:8.4g}"
        f" {won:>2}/{len(pairs):<3}  {'met' if met else 'not met'}"
        f" (median {rel:+.1%}, base IQR {bq3 - bq1:.4g}, bound {m['bound']:.0%})"
    )
PY
