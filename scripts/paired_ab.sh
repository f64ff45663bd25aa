#!/bin/bash
# Paired A/B benchmark of two checkouts in one time window.
#
#   scripts/paired_ab.sh [--seconds S] [--trace 0|1] [--out FILE] \
#       PARENT_DIR CHANGE_DIR WORKLOAD SEED...
#
# For each seed it runs `perfbench/run.py` once in each checkout,
# alternating which side goes first (parent first on the 1st, 3rd, ...
# seed), so host drift falls on both sides alike. Each run's final JSON
# line is appended to FILE (JSON lines, default a new temp file) as
# {"side", "seed", "result"}. A run that exits non-zero, or whose last
# line is not a result, is recorded as {"side", "seed", "error"} and the
# session goes on. At the end it lists the failed runs per side, then
# prints per metric, over the seeds where both sides produced a result:
# the median and quartiles of each side, the change/parent ratio of the
# medians, how many pairs the change won (by the metric's "better"
# direction in CHANGE_DIR/BENCHMARK.json), and whether the median
# difference exceeds the parent's interquartile range. Failed
# operations are summed per side.
set -euo pipefail

SECONDS_PER_RUN=10
TRACE=0
OUT=""
while [ $# -gt 0 ]; do
  case "$1" in
    --seconds) SECONDS_PER_RUN="$2"; shift 2 ;;
    --trace) TRACE="$2"; shift 2 ;;
    --out) OUT="$2"; shift 2 ;;
    *) break ;;
  esac
done
if [ $# -lt 4 ]; then
  sed -n '2,5p' "$0" | sed 's/^# \{0,1\}//'
  exit 2
fi
PARENT="$(cd "$1" && pwd)"
CHANGE="$(cd "$2" && pwd)"
WORKLOAD="$3"
shift 3
OUT="${OUT:-$(mktemp --suffix=.jsonl)}"
echo "results: $OUT"

run_side() { # run_side <parent|change> <seed>
  local side="$1" seed="$2" dir line status=0
  dir="$PARENT"
  [ "$side" = change ] && dir="$CHANGE"
  line="$(cd "$dir" && python3 perfbench/run.py --workload "$WORKLOAD" --seed "$seed" \
    --seconds "$SECONDS_PER_RUN" --trace "$TRACE" 2>/dev/null | tail -n 1)" || status=$?
  python3 - "$side" "$seed" "$status" "$line" >>"$OUT" <<'EOF'
import json
import sys

side, seed, status, line = sys.argv[1], int(sys.argv[2]), int(sys.argv[3]), sys.argv[4]
rec = {"side": side, "seed": seed}
try:
    result = json.loads(line)
except ValueError:
    result = None
if status == 0 and isinstance(result, dict) and "metrics" in result:
    rec["result"] = result
    print(f"seed {seed} {side} done", file=sys.stderr)
else:
    rec["error"] = f"exit {status}" if status else f"last line is not a result: {line[:200]!r}"
    print(f"seed {seed} {side} FAILED: {rec['error']}", file=sys.stderr)
print(json.dumps(rec))
EOF
}

i=0
for seed in "$@"; do
  if [ $((i % 2)) -eq 0 ]; then
    run_side parent "$seed"; run_side change "$seed"
  else
    run_side change "$seed"; run_side parent "$seed"
  fi
  i=$((i + 1))
done

python3 - "$OUT" "$CHANGE/BENCHMARK.json" <<'EOF'
import json
import statistics
import sys

rows = [json.loads(line) for line in open(sys.argv[1])]
spec = json.load(open(sys.argv[2]))
better = {m["name"]: m["better"] for m in spec["end_to_end"] + spec["per_layer"]}
by = {"parent": {}, "change": {}}
errors = {"parent": [], "change": []}
for r in rows:
    if "result" in r:
        by[r["side"]][r["seed"]] = r["result"]
    else:
        errors[r["side"]].append(f"seed {r['seed']}: {r['error']}")
for side in ("parent", "change"):
    print(f"{side}: {len(errors[side])} failed runs", *errors[side], sep="\n  ")
seeds = sorted(set(by["parent"]) & set(by["change"]))
if not seeds:
    sys.exit("no seed has a result on both sides")


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, q2, q3


print(f"{len(seeds)} pairs, seeds {seeds}")
for side in ("parent", "change"):
    failed = sum(by[side][s]["failed"] for s in seeds)
    attempted = sum(by[side][s]["attempted"] for s in seeds)
    print(f"{side}: failed operations {failed}/{attempted}")
print(f"{'metric':32} {'parent q1/med/q3':>28} {'change q1/med/q3':>28} {'ratio':>7} {'wins':>6} beyond_iqr")
for name in by["parent"][seeds[0]]["metrics"]:
    p = [by["parent"][s]["metrics"][name]["value"] for s in seeds]
    c = [by["change"][s]["metrics"][name]["value"] for s in seeds]
    pq, cq = quartiles(p), quartiles(c)
    sign = -1 if better.get(name) == "lower" else 1
    wins = sum(sign * (cv - pv) > 0 for pv, cv in zip(p, c))
    ratio = cq[1] / pq[1] if pq[1] else float("nan")
    beyond = abs(cq[1] - pq[1]) > pq[2] - pq[0]
    fmt = lambda q: "/".join(f"{v:.4g}" for v in q)  # noqa: E731
    print(f"{name:32} {fmt(pq):>28} {fmt(cq):>28} {ratio:7.3f} {wins:>3}/{len(seeds):<2} {beyond}")
EOF
