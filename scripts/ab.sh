#!/bin/bash
# Same-host A/B of the karnabench benchmark: a base commit against the
# working tree, alternating which side runs first, N seeds per workload.
#
# Usage: scripts/ab.sh [-b REV] [-n N] [-s SEED0] [-t SECONDS] [workload ...]
#   -b REV      base commit (default: HEAD if the working tree has changes,
#               else HEAD~1 — the parent of the change under test)
#   -n N        pairs per workload (default 10)
#   -s SEED0    first seed; pair i uses SEED0+i (default 331)
#   -t SECONDS  --seconds for each run (default 15)
#   workload    serve and/or batch_keys (default: both)
#
# The base is exported with `git archive` to target/ab/base-<sha>/ (target/
# is ignored), so its karnabench builds and generates fixtures in its own
# checkout. Each run's last two output lines go to target/ab/runs/. The
# summary prints, for every gated metric in BENCHMARK.json, each side's
# median and quartiles and how many pairs the change won, then the same
# figures for the scalar metrics on the detail line. Nothing under
# karnabench/ is changed.
set -euo pipefail
cd "$(dirname "$0")/.."

base="" n=10 seed0=331 seconds=15
while getopts "b:n:s:t:" o; do
  case "$o" in
    b) base="$OPTARG" ;; n) n="$OPTARG" ;; s) seed0="$OPTARG" ;;
    t) seconds="$OPTARG" ;; *) sed -n '2,12p' "$0"; exit 2 ;;
  esac
done
shift $((OPTIND - 1))
workloads=("$@")
[ ${#workloads[@]} -gt 0 ] || workloads=(serve batch_keys)
if [ -z "$base" ]; then
  if [ -n "$(git status --porcelain --untracked-files=no)" ]; then base=HEAD; else base=HEAD~1; fi
fi
sha="$(git rev-parse --short "$base")"
out="target/ab"
base_dir="$out/base-$sha"
runs="$out/runs"
mkdir -p "$runs"
if [ ! -d "$base_dir" ]; then
  mkdir -p "$base_dir.tmp"
  git archive "$sha" | tar -x -C "$base_dir.tmp"
  mv "$base_dir.tmp" "$base_dir"
fi

run_side() {  # side dir workload seed
  local side="$1" dir="$2" w="$3" s="$4"
  echo "[ab] $w seed $s $side" >&2
  (cd "$dir" && python3 karnabench/run.py --workload "$w" --seed "$s" \
      --seconds "$seconds" --trace 0) | tail -n 2 > "$runs/$w-$side-$s.json"
}

for w in "${workloads[@]}"; do
  for ((i = 0; i < n; i++)); do
    s=$((seed0 + i))
    if ((i % 2 == 0)); then
      run_side base "$base_dir" "$w" "$s"; run_side change . "$w" "$s"
    else
      run_side change . "$w" "$s"; run_side base "$base_dir" "$w" "$s"
    fi
  done
done

python3 - "$runs" "$seed0" "$n" "$sha" "${workloads[@]}" <<'EOF'
import json, statistics, sys
runs, seed0, n, sha, workloads = sys.argv[1], int(sys.argv[2]), int(sys.argv[3]), sys.argv[4], sys.argv[5:]
gated = {m["name"]: m["better"] for m in json.load(open("BENCHMARK.json"))["end_to_end"]}

def load(w, side, s):
    detail, result = open(f"{runs}/{w}-{side}-{s}.json").read().splitlines()
    return json.loads(detail), json.loads(result)

def quart(xs):
    q1, q2, q3 = statistics.quantiles(xs, n=4) if len(xs) > 1 else (xs[0],) * 3
    return f"{q2:10.3f} [{q1:.3f}, {q3:.3f}]"

for w in workloads:
    seeds = range(seed0, seed0 + n)
    pairs = [(load(w, "base", s), load(w, "change", s)) for s in seeds]
    bad = [(s, side) for s, p in zip(seeds, pairs) for side, (_, r) in zip(("base", "change"), p)
           if not r["correct"] or r["failed"]]
    print(f"{w}: {n} pairs, base {sha} vs working tree; median [q1, q3]")
    print(f"  runs not correct or with failures: {bad or 'none'}")
    print(f"  {'metric':22s} {'base':>30s} {'change':>30s}  change won")
    for m, better in gated.items():
        b = [p[0][1]["metrics"][m]["value"] for p in pairs]
        c = [p[1][1]["metrics"][m]["value"] for p in pairs]
        won = sum((y < x) if better == "lower" else (y > x) for x, y in zip(b, c))
        print(f"  {m:22s} {quart(b):>30s} {quart(c):>30s}  {won}/{n}")
    names = [k for k, v in pairs[0][0][0]["metrics"].items()
             if isinstance(v, (int, float)) and not isinstance(v, bool) and k not in gated]
    for m in names:
        b = [p[0][0]["metrics"].get(m) for p in pairs]
        c = [p[1][0]["metrics"].get(m) for p in pairs]
        if all(isinstance(v, (int, float)) for v in b + c):
            print(f"  {m:22s} {quart(b):>30s} {quart(c):>30s}")
EOF
