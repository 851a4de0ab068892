#!/usr/bin/env python3
"""Merge a REPS sweep log into bench_anchors/warm_minima.json.

The log is graft.Bench's stderr under SPARK_GRAFT_REPS: one
`[bench] <query> <secs> jobs=<n> reruns=<secs>,...` line per query. Floor per query = min over the sweep's successful reps
(a failed rep reads -1 and is skipped); where a floor already
exists (earlier quiet-host sessions) the merged value is by default
the MIN of old and new — a floor only ever ratchets down. The ratchet
has a cost (ADVICE r14): a query that LEGITIMATELY got slower keeps
its stale lower floor, permanently reads as a warm-rerun suspect, and
burns one of Bench's WarmRerunCap slots every run. When a sweep is
trusted (quiet host, reps >= 3), pass --overwrite so queries PRESENT
in the sweep take the new value outright; queries absent from the
sweep keep their old floor either way. A RENAMED query's stale floor
is dropped only when --prune is passed (the default keeps it, so a
partial sweep can't silently shrink coverage).

Usage: merge_floors.py <bench_stderr_log> [--prune] [--overwrite]
"""
import json, re, sys

log_path = sys.argv[1]
prune = "--prune" in sys.argv[2:]
overwrite = "--overwrite" in sys.argv[2:]
anchor = "bench_anchors/warm_minima.json"

new = {}
for line in open(log_path):
    m = re.match(r"\[bench\] (\S+) (-?[\d.]+) jobs=\d+(?: reruns=(\S+))?$",
                  line.rstrip())
    if m:
        reps = [m.group(2)] + (m.group(3).split(",") if m.group(3) else [])
        times = [float(t) for t in reps if float(t) >= 0]
        if times:
            new[m.group(1)] = round(min(times), 2)

try:
    old = json.load(open(anchor))
except FileNotFoundError:
    old = {}

merged = {}
for k in set(old) | set(new):
    if k in old and k in new:
        merged[k] = new[k] if overwrite else min(old[k], new[k])
    elif k in new:
        merged[k] = new[k]
    elif not prune:
        merged[k] = old[k]

with open(anchor, "w") as f:
    f.write("{\n")
    f.write(",\n".join(f' "{k}": {merged[k]}' for k in sorted(merged)))
    f.write("\n}\n")
print(f"{len(new)} swept, {len(old)} existing, {len(merged)} merged "
      f"-> {anchor}")
