#!/usr/bin/env bash
# Paired A/B run of the repository benchmark: a parent revision against a
# change, on one perfbench workload, judged by the paired rule of the
# benchmark contract (at least ten alternating pairs; a gain needs >= 9/10
# wins and a median gap wider than the parent's interquartile range).
#
#   tools/ab.sh <parent-rev> <workload> <pairs> <first-seed>
#
# The change side is the working tree (tracked and untracked files that
# git does not ignore). Each side is exported into its own directory under
# $AB_DIR (default: a new temporary directory, never inside the
# repository) and builds itself there on its first run. Pair i runs seed <first-seed>+i; even pairs run the parent
# first, odd pairs the change. Every run's result line is kept in
# $AB_DIR/results.jsonl. Runs last run_seconds of the parent's
# BENCHMARK.json. Every end-to-end metric is reported (all are lower-is-
# better) with its pairs, medians, quartiles, win count and verdict.
set -euo pipefail

if [ $# -ne 4 ]; then
  sed -n '2,16p' "$0" | sed 's/^# \{0,1\}//'
  exit 2
fi
parent_rev=$1 workload=$2 pairs=$3 first_seed=$4
repo=$(git rev-parse --show-toplevel)
AB_DIR=${AB_DIR:-$(mktemp -d -t ab.XXXXXX)}
case "$(realpath -m "$AB_DIR")/" in
  "$repo"/*) echo "ab.sh: AB_DIR must lie outside the repository" >&2; exit 2 ;;
esac
parent_dir=$AB_DIR/parent change_dir=$AB_DIR/change
rm -rf "$parent_dir" "$change_dir"
mkdir -p "$parent_dir" "$change_dir"

git -C "$repo" archive "$parent_rev" | tar -x -C "$parent_dir"
(cd "$repo" && git ls-files -z --cached --others --exclude-standard |
  xargs -0 sh -c 'for f; do [ -e "$f" ] && printf "%s\0" "$f"; done' _ |
  tar --null -T - -cf -) | tar -x -C "$change_dir"
seconds=$(python3 -c 'import json,sys; print(json.load(open(sys.argv[1]))["run_seconds"])' \
  "$parent_dir/BENCHMARK.json")
results=$AB_DIR/results.jsonl
: > "$results"
echo "ab.sh: parent=$parent_rev change=working tree workload=$workload" \
  "pairs=$pairs seeds=$first_seed.. seconds=$seconds dir=$AB_DIR" >&2

run() {  # <side> <seed> <pair>
  local side=$1 seed=$2 pair=$3 line rc=0
  line=$(cd "$AB_DIR/$side" && python3 perfbench/run.py --workload "$workload" \
    --seed "$seed" --seconds "$seconds" --trace 0 2>"$AB_DIR/$side-$seed.log" |
    tail -n 1) || rc=$?
  python3 - "$side" "$seed" "$pair" "$rc" "$line" >> "$results" <<'PY'
import json, sys
side, seed, pair, rc, line = sys.argv[1:]
try:
    res = json.loads(line)
except ValueError:
    res = {"correct": False, "metrics": {}}
print(json.dumps({"side": side, "seed": int(seed), "pair": int(pair), "rc": int(rc),
                  "correct": res.get("correct"), "metrics": res.get("metrics", {})}))
PY
  tail -n 1 "$results" >&2
}

for ((i = 0; i < pairs; i++)); do
  seed=$((first_seed + i))
  if ((i % 2 == 0)); then run parent "$seed" "$i"; run change "$seed" "$i"
  else run change "$seed" "$i"; run parent "$seed" "$i"; fi
done

python3 - "$results" <<'PY'
import json, statistics, sys
rows = [json.loads(l) for l in open(sys.argv[1])]
by = {(r["side"], r["pair"]): r for r in rows}
pairs = sorted({r["pair"] for r in rows})
bad = [r for r in rows if r["rc"] != 0 or not r["correct"]]
for r in bad:
    print("run failed or incorrect: %s seed %d rc %d" % (r["side"], r["seed"], r["rc"]))


def value(r, name):
    v = r["metrics"].get(name)
    return v["value"] if isinstance(v, dict) else v


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    return tuple(statistics.quantiles(xs, n=4, method="inclusive"))


for name in sorted({k for r in rows for k in r["metrics"]}):
    print("== " + name)
    wins = losses = 0
    vals = {"parent": [], "change": []}
    for p in pairs:
        a, b = by.get(("parent", p)), by.get(("change", p))
        if not a or not b or value(a, name) is None or value(b, name) is None:
            continue
        x, y = value(a, name), value(b, name)
        vals["parent"].append(x)
        vals["change"].append(y)
        wins += y < x
        losses += x < y
        print("  pair %d seed %d: parent %.4g change %.4g (%+.1f%%) %s"
              % (p, a["seed"], x, y, 100.0 * (y - x) / x if x else 0.0,
                 "change" if y < x else "parent" if x < y else "tie"))
    if not vals["parent"]:
        continue
    (pq1, pm, pq3), (cq1, cm, cq3) = quartiles(vals["parent"]), quartiles(vals["change"])
    n = len(vals["parent"])
    print("  parent median %.4g [q1 %.4g, q3 %.4g]; change median %.4g [q1 %.4g, q3 %.4g]"
          % (pm, pq1, pq3, cm, cq1, cq3))
    print("  change wins %d/%d pairs (parent %d); median %+.1f%%; parent IQR %.4g"
          % (wins, n, losses, 100.0 * (cm - pm) / pm if pm else 0.0, pq3 - pq1))
    gain = n >= 10 and wins * 10 >= 9 * n and pm - cm > pq3 - pq1 and not bad
    print("  verdict: %s" % ("gain" if gain else "no gain claimed"))
PY
