#!/usr/bin/env bash
# Paired benchmark runs: the working tree against a parent revision.
#
# Usage: tools/bench_pair.sh <parent-rev> <workload> <seed>...
#   e.g. tools/bench_pair.sh HEAD~1 wh_build 1 2 3 4
#
# Exports <parent-rev> with `git archive` into a temporary directory. For
# every seed it runs
#   python3 perfbench/run.py --workload W --seed N --seconds 10 --trace 0
# once in each tree, alternating which side runs first, then prints the
# four end-to-end metrics of every run side by side with their medians,
# quartile distances and the number of pairs the change wins.
# Each tree builds its own classpath on its first run (about a minute).
# Run logs stay in the temporary directory, whose path is printed; the
# parent copy is deleted on exit. Nothing under perfbench/ is modified
# beyond what run.py itself writes (.build/, .work/).
set -euo pipefail

if [ $# -lt 3 ]; then
  sed -n '2,16p' "$0"
  exit 2
fi
parent=$1 workload=$2
shift 2

here=$(git rev-parse --show-toplevel)
tmp=$(mktemp -d "${TMPDIR:-/tmp}/bench_pair.XXXXXX")
trap 'rm -rf "$tmp/parent"' EXIT
mkdir "$tmp/parent"
git -C "$here" archive "$parent" | tar -x -C "$tmp/parent"

results="$tmp/results.tsv"
: > "$results"
n=0
for seed in "$@"; do
  if [ $((n % 2)) -eq 0 ]; then order="parent change"; else order="change parent"; fi
  n=$((n + 1))
  for side in $order; do
    if [ "$side" = parent ]; then dir="$tmp/parent"; else dir="$here"; fi
    log="$tmp/$side.seed$seed.log"
    echo "[bench_pair] seed $seed: $side" >&2
    (cd "$dir" && python3 perfbench/run.py --workload "$workload" \
      --seed "$seed" --seconds 10 --trace 0) > "$log" 2> "$log.err" || true
    printf '%s\t%s\t%s\n' "$seed" "$side" "$(tail -n 1 "$log")" >> "$results"
  done
done

python3 - "$results" "$workload" "$parent" <<'EOF'
import json, statistics, sys

path, workload, parent = sys.argv[1:]
# metric -> True when lower is better
metrics = {"setup_s": True, "op_s.p50": True, "ops_per_s": False,
           "stored_bytes_per_input_byte": True}
runs = {}  # (seed, side) -> contract line, or None when it is missing
seeds = []
for row in open(path):
    seed, side, last = row.rstrip("\n").split("\t", 2)
    if seed not in seeds:
        seeds.append(seed)
    try:
        runs[seed, side] = json.loads(last)
    except ValueError:
        runs[seed, side] = None

def value(seed, side, m):
    r = runs.get((seed, side))
    return r["metrics"][m]["value"] if r and m in r["metrics"] else None

print("workload %s: parent = %s, change = working tree" % (workload, parent))
for seed in seeds:
    for side in ("parent", "change"):
        r = runs.get((seed, side))
        if r is None:
            print("  seed %s %s: no contract line (see its log)" % (seed, side))
        elif not r["correct"] or r["failed"]:
            print("  seed %s %s: correct=%s failed=%d of %d"
                  % (seed, side, r["correct"], r["failed"], r["attempted"]))
for m, lower in metrics.items():
    print("\n%-28s %12s %12s" % (m, "parent", "change"))
    cols = {"parent": [], "change": []}
    wins = pairs = 0
    for seed in seeds:
        a, b = value(seed, "parent", m), value(seed, "change", m)
        for side, v in (("parent", a), ("change", b)):
            if v is not None:
                cols[side].append(v)
        if a is not None and b is not None:
            pairs += 1
            wins += (b < a) if lower else (b > a)
        cells = ["%12.4g" % v if v is not None else "%12s" % "-" for v in (a, b)]
        print("  seed %-21s %s" % (seed, " ".join(cells)))
    if cols["parent"] and cols["change"]:
        a, b = statistics.median(cols["parent"]), statistics.median(cols["change"])
        rel = " (%+.1f%%)" % (100 * (b - a) / a) if a else ""
        print("  %-26s %12.4g %12.4g%s" % ("median", a, b, rel))
        if min(len(c) for c in cols.values()) >= 2:
            iqr = [q[2] - q[0] for q in
                   (statistics.quantiles(cols[s], n=4) for s in ("parent", "change"))]
            print("  %-26s %12.4g %12.4g" % ("quartile distance", *iqr))
        print("  change better in %d of %d pairs" % (wins, pairs))
EOF
echo "[bench_pair] logs: $tmp" >&2
