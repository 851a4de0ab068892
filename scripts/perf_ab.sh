#!/usr/bin/env bash
# Interleaved A/B of one perfbench workload between a baseline checkout
# (BASE) and this tree: for each seed, run
#   python3 perfbench/run.py --workload <w> --seed <s> --seconds 20 --trace 0
# once on each side, back to back, so both sample the same host-noise
# window; the side that goes first alternates from seed to seed. Each
# run's result line (the last line run.py prints) is appended to a jsonl
# file, tagged with its side and whether it ran first or second in its pair:
#   {"side":"base","workload":"router_fanout","seed":21,"trace":0,"order":1,
#    "rev":"<git describe --dirty>","result":{"correct":true,...}}
# A run that prints no result line is recorded with "result": null and
# its exit status. Each checkout builds its own classes (perfbench/build.py).
# Usage: BASE=<checkout> scripts/perf_ab.sh <workload> <seed>...
# Env: OUT (jsonl to append to, default perf_ab_<workload>.jsonl),
#      RUN_SECONDS (default 20), TRACE (default 0)
set -euo pipefail
cd "$(dirname "$0")/.."
BASE=${BASE:?set BASE to a baseline checkout}
WORKLOAD=${1:?usage: BASE=<checkout> scripts/perf_ab.sh <workload> <seed>...}
shift
[ $# -gt 0 ] || { echo "give at least one seed" >&2; exit 2; }
OUT=${OUT:-perf_ab_$WORKLOAD.jsonl}
case $OUT in /*) ;; *) OUT=$PWD/$OUT ;; esac
HERE=$PWD

# stdin: one run's output; argv: its tags. Appends the tagged record.
RECORD='
import json, sys
side, workload, seed, trace, order, rev, status, out = sys.argv[1:]
lines = [l for l in sys.stdin.read().splitlines() if l.startswith("{")]
result = None
if lines:
    try:
        result = json.loads(lines[-1])
    except ValueError:
        pass
if not (isinstance(result, dict) and "correct" in result):
    result = None
rec = {"side": side, "workload": workload, "seed": int(seed),
       "trace": int(trace), "order": int(order), "rev": rev, "result": result}
if result is None:
    rec["exit"] = int(status)
with open(out, "a") as f:
    f.write(json.dumps(rec) + "\n")
print(json.dumps(rec)[:300])
'

run() {
  local dir=$1 side=$2 seed=$3 order=$4 out status=0
  out=$(cd "$dir" && python3 perfbench/run.py --workload "$WORKLOAD" --seed "$seed" \
    --seconds "${RUN_SECONDS:-20}" --trace "${TRACE:-0}") || status=$?
  python3 -c "$RECORD" "$side" "$WORKLOAD" "$seed" "${TRACE:-0}" "$order" \
    "$(git -C "$dir" describe --always --dirty --abbrev=7 2>/dev/null || echo unknown)" \
    "$status" "$OUT" <<<"$out"
}

i=0
for seed in "$@"; do
  if [ $((i % 2)) -eq 0 ]; then
    run "$BASE" base "$seed" 1; run "$HERE" change "$seed" 2
  else
    run "$HERE" change "$seed" 1; run "$BASE" base "$seed" 2
  fi
  i=$((i + 1))
done
