#!/bin/bash
# Interleaved before/after of the repo benchmark (perfbench/run.py).
#
#   tools/perf_ab.sh <parent-rev> <workload> <seed>...
#
# Puts a `git archive` of <parent-rev> ("base") and a copy of the working
# tree, uncommitted changes included ("new"), side by side in a fresh
# directory under ${TMPDIR:-/tmp}, then runs one perfbench pair per seed
# in those copies: base first on the 1st, 3rd, ... seed, new first on the
# others, so a drifting host does not favour one side. Each run takes
# BENCHMARK.json's run_seconds, untraced. Prints, per end-to-end metric,
# each side's median, the change of the medians, the change in every
# pair and how many pairs "new" won (by the metric's better direction);
# then every run's correct/failed. Results stay in the printed directory.
# Exits 1, after the table, when a run left no result or reported
# correct: false.
set -euo pipefail
if [ $# -lt 3 ]; then
  echo "usage: $0 <parent-rev> <workload> <seed>..." >&2
  exit 2
fi
rev=$1 workload=$2; shift 2
repo=$(cd "$(dirname "$0")/.." && pwd)
work=$(mktemp -d "${TMPDIR:-/tmp}/perf_ab.XXXXXX")
echo "perf_ab: $rev vs working tree, $workload, seeds $*, in $work" >&2

mkdir -p "$work/base" "$work/new" "$work/results"
git -C "$repo" archive "$rev" | tar -x -C "$work/base"
# tracked and untracked-but-not-ignored files; deleted ones are skipped
git -C "$repo" ls-files -z -c -o --exclude-standard |
  (cd "$repo" && tar -c --null -T - --ignore-failed-read 2>/dev/null) |
  tar -x -C "$work/new"
seconds=$(python3 -c 'import json,sys; print(json.load(open(sys.argv[1]))["run_seconds"])' \
  "$repo/BENCHMARK.json")

run() { # run <side> <seed>: the result line, saved as results/<side>-<seed>.json
  (cd "$work/$1" && python3 perfbench/run.py --workload "$workload" --seed "$2" \
    --seconds "$seconds" --trace 0) > "$work/results/$1-$2.out" 2> "$work/results/$1-$2.log" ||
    echo "perf_ab: $1 seed $2 exited $? (see results/$1-$2.log)" >&2
  tail -n 1 "$work/results/$1-$2.out" > "$work/results/$1-$2.json"
}

i=0
for seed in "$@"; do
  if [ $((i % 2)) -eq 0 ]; then order="base new"; else order="new base"; fi
  for side in $order; do
    echo "perf_ab: seed $seed $side" >&2
    run "$side" "$seed"
  done
  i=$((i + 1))
done

status=0
python3 - "$work/results" "$repo/BENCHMARK.json" "$@" <<'EOF' || status=$?
import json, os, statistics, sys

results, spec_path, seeds = sys.argv[1], sys.argv[2], sys.argv[3:]
spec = json.load(open(spec_path))

def load(side, seed):
    try:
        return json.load(open(os.path.join(results, f"{side}-{seed}.json")))
    except (OSError, ValueError):
        return None

runs = {(side, s): load(side, s) for side in ("base", "new") for s in seeds}
pairs = [s for s in seeds if runs["base", s] and runs["new", s]]


def summary(xs):  # median [first quartile, third quartile]
    q = statistics.quantiles(xs, n=4) if len(xs) > 1 else [xs[0]] * 3
    return statistics.median(xs), f"{statistics.median(xs):.4g} [{q[0]:.4g}, {q[2]:.4g}]"

print(f"{len(pairs)} complete pairs of {len(seeds)}; medians [quartiles]")
print(f"{'metric':<16}{'base':>26}{'new':>26}{'change':>9}  wins  per pair")
for m in spec["end_to_end"]:
    name, lower = m["name"], m["better"] == "lower"
    val = lambda side, s: runs[side, s]["metrics"][name]["value"]
    ok = [s for s in pairs if val("base", s) is not None and val("new", s) is not None]
    if not ok:
        print(f"{name:<16}  no values")
        continue
    b, b_text = summary([val("base", s) for s in ok])
    n, n_text = summary([val("new", s) for s in ok])
    per = [val("new", s) / val("base", s) - 1 for s in ok]
    wins = sum((d < 0) if lower else (d > 0) for d in per)
    print(f"{name:<16}{b_text:>26}{n_text:>26}{n / b - 1:>+9.1%}  {wins:>2}/{len(ok)}  "
          + " ".join(f"{d:+.1%}" for d in per))
for (side, s), r in sorted(runs.items()):
    print(f"{side:<5} seed {s}: " + ("no result" if r is None else
          f"correct={r['correct']} failed={r['failed']}/{r['attempted']}"))
bad = [f"{side} seed {s}" for (side, s), r in sorted(runs.items())
       if r is None or r.get("correct") is not True]
if bad:
    print("perf_ab: no result or not correct: " + ", ".join(bad), file=sys.stderr)
    sys.exit(1)
EOF
echo "perf_ab: results in $work/results" >&2
exit $status
