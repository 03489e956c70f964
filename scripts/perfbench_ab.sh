#!/bin/bash
# Alternating A/B runs of the repository benchmark (perfbench/run.py)
# between two checkouts, e.g. a clone of the parent commit and the change.
# Pair i runs both sides back to back, the parent first on odd pairs and
# the change first on even ones, so drift on a shared machine hits both
# sides alike. Each run is untraced (--trace 0) and lasts the benchmark's
# own run_seconds (BENCHMARK.json of the change checkout).
#
# Afterwards it prints, per end-to-end metric: each side's median and
# quartiles, the change's wins out of the pairs (ties count for neither;
# "better" comes from BENCHMARK.json), and whether a gain would pass the
# claim rule: wins in at least 9/10 of the pairs and medians further apart
# than the parent's interquartile range. It also prints `correct` and
# `failed` for every run.
#
# Usage: scripts/perfbench_ab.sh <parent-checkout> <change-checkout> <workload> <seed> <pairs> [log.jsonl]
# The raw result of every run is appended to the log (default: a new file
# under $TMPDIR), one JSON object per line; the benchmark's stderr goes to
# <log>.err. The first run in each checkout builds its benchmark program.
# With <pairs> = 0 it runs nothing and summarizes an existing log.
set -euo pipefail
if [ $# -lt 5 ]; then
  sed -n '2,/^set /p' "$0" | sed '$d; s/^# \{0,1\}//'
  exit 2
fi
PARENT=$(cd "$1" && pwd); CHANGE=$(cd "$2" && pwd)
WORKLOAD=$3; SEED=$4; PAIRS=$5
LOG=${6:-$(mktemp "${TMPDIR:-/tmp}/perfbench_ab.XXXXXX.jsonl")}
SECONDS_PER_RUN=$(python3 -c 'import json,sys; print(json.load(open(sys.argv[1]))["run_seconds"])' \
  "$CHANGE/BENCHMARK.json")

run() { # $1 = side, $2 = checkout, $3 = pair
  local out
  out=$(cd "$2" && python3 perfbench/run.py --workload "$WORKLOAD" --seed "$SEED" \
    --seconds "$SECONDS_PER_RUN" --trace 0 2>>"$LOG.err" | tail -n 1) || true
  [ -n "$out" ] || out='{"correct": false, "failed": null, "metrics": {}}'
  printf '{"side": "%s", "pair": %d, "result": %s}\n' "$1" "$3" "$out" >>"$LOG"
  echo "pair $3 $1: $out"
}

for i in $(seq 1 "$PAIRS"); do
  if [ $((i % 2)) -eq 1 ]; then
    run parent "$PARENT" "$i"; run change "$CHANGE" "$i"
  else
    run change "$CHANGE" "$i"; run parent "$PARENT" "$i"
  fi
done

python3 - "$LOG" "$CHANGE/BENCHMARK.json" "$WORKLOAD" "$SEED" <<'EOF'
import json, statistics, sys
log, bench, workload, seed = sys.argv[1:]
runs = [json.loads(line) for line in open(log)]
pairs = sorted({r["pair"] for r in runs})
by = {(r["side"], r["pair"]): r["result"] for r in runs}
print(f"\n{workload}, seed {seed}, {len(pairs)} pairs, log {log}")
for side in ("parent", "change"):
    print(f"  {side}: " + " ".join(
        "%d:%s/%s" % (p, "ok" if by.get((side, p), {}).get("correct") else "BAD",
                      by.get((side, p), {}).get("failed")) for p in pairs))

def quartiles(xs):
    if len(xs) < 2:
        return (xs[0], xs[0]) if xs else (float("nan"), float("nan"))
    q = statistics.quantiles(xs, n=4)
    return q[0], q[2]

print("  %-14s %-6s %10s %10s %10s | %10s %10s %10s | %6s %7s %s" % (
    "metric", "better", "parent q1", "median", "q3", "change q1", "median", "q3",
    "wins", "delta", "claim rule"))
for m in json.load(open(bench))["end_to_end"]:
    name, lower = m["name"], m["better"] == "lower"
    val = lambda side, p: by.get((side, p), {}).get("metrics", {}).get(name, {}).get("value")
    ps = [val("parent", p) for p in pairs if val("parent", p) is not None]
    cs = [val("change", p) for p in pairs if val("change", p) is not None]
    if not ps or not cs:
        print(f"  {name}: no values")
        continue
    wins = sum(1 for p in pairs
               if val("parent", p) is not None and val("change", p) is not None
               and (val("change", p) < val("parent", p) if lower else val("change", p) > val("parent", p)))
    pm, cm = statistics.median(ps), statistics.median(cs)
    (pq1, pq3), (cq1, cq3) = quartiles(ps), quartiles(cs)
    holds = wins >= 0.9 * len(pairs) and abs(cm - pm) > (pq3 - pq1)
    print("  %-14s %-6s %10.4g %10.4g %10.4g | %10.4g %10.4g %10.4g | %3d/%-2d %+6.1f%% %s" % (
        name, m["better"], pq1, pm, pq3, cq1, cm, cq3, wins, len(pairs),
        100.0 * (cm - pm) / pm if pm else float("nan"), "holds" if holds else "-"))
EOF
