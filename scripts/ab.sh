#!/usr/bin/env bash
# Interleaved A/B of the end-to-end benchmark: a parent commit against the
# current checkout.
#
#   scripts/ab.sh <parent-ref> <workload> <seed>...
#
# Side A is `git archive <parent-ref>`; side B is the checkout as it stands
# (tracked files plus untracked, non-ignored ones), so uncommitted changes
# are measured too. Each side is unpacked into its own directory under
# $AB_WORK (default: a fresh temporary directory) and builds itself there
# on its first run. For every seed the two sides run `perfbench/run.py`
# back to back, and the side that runs first alternates from pair to pair,
# so host drift falls on both sides alike. Run length is the benchmark's
# own `run_seconds` (BENCHMARK.json).
#
# Output: one line per run, then per end-to-end metric each side's median
# [first quartile, third quartile], the change of the medians, the
# parent's IQR, and how many pairs the change won (ties count for
# neither side). Then the answers: per seed, the two sides' `planted…`
# report lines (the planted counts of the import workloads, `admitted=`
# for `curation`) must be equal; it prints on how many seeds they are and
# lists the seeds where they differ. Raw results go to
# $AB_WORK/results.tsv, each run's output to $AB_WORK/logs/.
set -euo pipefail

if [ $# -lt 3 ]; then
  echo "usage: $0 <parent-ref> <workload> <seed>..." >&2
  exit 2
fi
ref=$1 workload=$2
shift 2
root=$(git rev-parse --show-toplevel)
work=${AB_WORK:-$(mktemp -d -t ab.XXXXXX)}
seconds=$(python3 -c 'import json, sys; print(json.load(open(sys.argv[1]))["run_seconds"])' \
  "$root/BENCHMARK.json")
mkdir -p "$work/A" "$work/B" "$work/logs"

git -C "$root" archive "$ref" | tar -x -C "$work/A"
# tracked files deleted in the checkout are listed too; leave them out
(cd "$root" && git ls-files -co --exclude-standard -z |
  while IFS= read -r -d '' f; do if [ -e "$f" ]; then printf '%s\0' "$f"; fi; done |
  tar --null -T - -cf -) | tar -x -C "$work/B"

results=$work/results.tsv
: > "$results"
run() { # side seed
  local out=$work/logs/$1-$2.log
  if (cd "$work/$1" && python3 perfbench/run.py --workload "$workload" --seed "$2" \
      --seconds "$seconds" --trace 0) > "$out" 2> "$out.err"; then
    printf '%s\t%s\t%s\n' "$1" "$2" "$(tail -n 1 "$out")" >> "$results"
    echo "$1 seed $2: $(grep -E '^(metric (setup_s|op_ms_p50|live_heap_mb)|failed_op_fraction|recall_at_10\[[a-z]*\]) ' "$out" |
      sed 's/^metric //' | cut -d' ' -f1-2 | tr '\n' ' ')"
  else
    echo "$1 seed $2: run failed, see $out.err" >&2
    printf '%s\t%s\t%s\n' "$1" "$2" "FAILED" >> "$results"
  fi
}

i=0
for seed in "$@"; do
  if [ $((i % 2)) -eq 0 ]; then run A "$seed"; run B "$seed"; else run B "$seed"; run A "$seed"; fi
  i=$((i + 1))
done

python3 - "$results" "$root/BENCHMARK.json" "$work/logs" <<'EOF'
import json, os, statistics, sys

rows = [l.rstrip("\n").split("\t", 2) for l in open(sys.argv[1]) if l.strip()]
spec = json.load(open(sys.argv[2]))["end_to_end"]
res = {}
for side, seed, js in rows:
    res[(side, seed)] = None if js == "FAILED" else json.loads(js)
seeds = sorted({s for _, s in res}, key=lambda s: int(s))
pairs = [s for s in seeds if res.get(("A", s)) and res.get(("B", s))]
for side in "AB":
    runs = [res.get((side, s)) for s in seeds]
    print(f"{side}: {sum(r is None for r in runs)} failed runs, "
          f"{sum(r['failed'] for r in runs if r)} failed of "
          f"{sum(r['attempted'] for r in runs if r)} attempted ops, "
          f"{sum(not r['correct'] for r in runs if r)} runs not correct")

def quart(xs):
    q1, med, q3 = statistics.quantiles(xs, n=4, method="inclusive") if len(xs) > 1 else (xs[0],) * 3
    return med, q1, q3

for m in spec:
    name, lower = m["name"], m["better"] == "lower"
    a = [res[("A", s)]["metrics"][name]["value"] for s in pairs]
    b = [res[("B", s)]["metrics"][name]["value"] for s in pairs]
    if not a:
        continue
    (ma, a1, a3), (mb, b1, b3) = quart(a), quart(b)
    wins = sum((y < x) if lower else (y > x) for x, y in zip(a, b))
    losses = sum((y > x) if lower else (y < x) for x, y in zip(a, b))
    print(f"{name} ({m['unit']}, {m['better']} is better): "
          f"A {ma:.3f} [{a1:.3f}, {a3:.3f}]  B {mb:.3f} [{b1:.3f}, {b3:.3f}]  "
          f"change {100 * (mb - ma) / ma:+.1f}%  parent IQR {a3 - a1:.3f}  "
          f"|diff| > IQR: {abs(mb - ma) > a3 - a1}  B wins {wins}/{len(pairs)} (losses {losses})")

def answers(side, seed):
    with open(os.path.join(sys.argv[3], f"{side}-{seed}.log")) as f:
        return [l.rstrip("\n") for l in f if l.startswith("planted")]

differ = [s for s in pairs if answers("A", s) != answers("B", s)]
silent = sum(not answers("A", s) and not answers("B", s) for s in pairs)
print(f"answers identical on {len(pairs) - len(differ)} of {len(pairs)} seeds"
      + (f"; differ on seeds {' '.join(differ)}" if differ else "")
      + (f" ({silent} seeds print no planted line on either side)" if silent else ""))
EOF
