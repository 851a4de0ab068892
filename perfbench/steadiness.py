#!/usr/bin/env python3
"""Steadiness record: run every workload of BENCHMARK.json on several
seeds and write, per end-to-end metric, the values, median, quartiles
and spread ((q3 - q1) / median, quartiles as statistics.quantiles(n=4)).

    python3 perfbench/steadiness.py --sets 101-110,201-210 --out perfbench/results/steadiness.json

Each comma-separated seed range is one set. The runs are interleaved:
the i-th seed of every set, on every workload, before the (i+1)-th, so a
change in the host's speed falls on all sets alike. The record checks
each set's spreads against the bounds (all but setup_s) and each later
set's medians against the first set's (all metrics).

With --pairs each seed runs untraced and then traced, back to back, and
the record adds the tracing overhead: per end-to-end metric, the median
over seeds of traced / untraced - 1 (traced runs print their end-to-end
lines too).

    python3 perfbench/steadiness.py --sets 301-303 --pairs --out perfbench/results/overhead.json

Every run, whatever the mode, is also appended to perfbench/results/runs.jsonl.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
LOG = os.path.join(HERE, "results", "runs.jsonl")
sys.path.insert(0, HERE)

import run  # noqa: E402


def seeds(spec):
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def summary(values):
    med = statistics.median(values)
    q1, _, q3 = statistics.quantiles(values, n=4) if len(values) > 1 else (med, med, med)
    return {"median": med, "q1": q1, "q3": q3, "spread": (q3 - q1) / med if med else None,
            "values": values}


def one(bench, label, w, s, trace):
    t0 = time.time()
    p = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", w,
                        "--seed", str(s), "--seconds", str(bench["run_seconds"]),
                        "--trace", "1" if trace else "0"],
                       cwd=ROOT, capture_output=True, text=True)
    wall = time.time() - t0
    print(f"{label} {w} seed {s} trace={int(trace)}: {wall:.1f} s, exit {p.returncode}",
          file=sys.stderr)
    rec = {"label": label, "workload": w, "seed": s, "trace": int(trace),
           "started": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime(t0)),
           "wall_s": wall, "exit": p.returncode}
    if p.returncode != 0:
        print(p.stderr[-2000:], file=sys.stderr)
    else:
        metrics, _, _ = run.parse_lines(p.stdout)
        result = json.loads(p.stdout.strip().splitlines()[-1])
        rec.update(correct=result["correct"], attempted=result["attempted"],
                   failed=result["failed"],
                   metrics={k: v["value"] for k, v in metrics.items()})
    os.makedirs(os.path.dirname(LOG), exist_ok=True)
    with open(LOG, "a") as fh:
        fh.write(json.dumps(rec) + "\n")
    return rec


def summarise(runs, gated):
    ok = [r for r in runs if "metrics" in r]
    names = gated + sorted({k for r in ok for k in r["metrics"]} - set(gated))
    return {n: summary([r["metrics"][n] for r in ok])
            for n in names if ok and all(r["metrics"].get(n) is not None for r in ok)}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--sets", required=True, help="seed ranges, e.g. 101-110,201-210")
    ap.add_argument("--pairs", action="store_true")
    ap.add_argument("--out", required=True)
    args = ap.parse_args()
    bench = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    gated = {m["name"]: m for m in bench["end_to_end"]}
    workloads = [x["name"] for x in bench["workloads"]]
    sets = [seeds(s) for s in args.sets.split(",")]
    labels = [f"set{k + 1}" for k in range(len(sets))]
    out = os.path.splitext(os.path.basename(args.out))[0]

    runs = {(lab, w): [] for lab in labels for w in workloads}
    traced = {(lab, w): [] for lab in labels for w in workloads}
    for i in range(max(len(s) for s in sets)):
        for lab, ss in zip(labels, sets):
            if i >= len(ss):
                continue
            for w in workloads:
                runs[lab, w].append(one(bench, f"{out}/{lab}", w, ss[i], False))
                if args.pairs:
                    traced[lab, w].append(one(bench, f"{out}/{lab}", w, ss[i], True))

    record = {"run_seconds": bench["run_seconds"], "sets": {}}
    for lab, ss in zip(labels, sets):
        record["sets"][lab] = {"seeds": ss, "workloads": {}}
        for w in workloads:
            rec = record["sets"][lab]["workloads"][w] = {
                "runs": runs[lab, w], "metrics": summarise(runs[lab, w], list(gated))}
            rec["spread_within_bound"] = {
                n: rec["metrics"][n]["spread"] <= m["bound"]
                for n, m in gated.items() if n != "setup_s" and n in rec["metrics"]}
            if args.pairs:
                rec["traced_runs"] = traced[lab, w]
                pairs = [(u, t) for u, t in zip(runs[lab, w], traced[lab, w])
                         if "metrics" in u and "metrics" in t]
                rec["tracing_overhead"] = {
                    n: statistics.median(t["metrics"][n] / u["metrics"][n] - 1 for u, t in pairs)
                    for n in gated if pairs and all(n in t["metrics"] for _, t in pairs)}
    # a later set's median against the first set's, in the direction
    # that counts as worse
    first = record["sets"][labels[0]]["workloads"]
    for lab in labels[1:]:
        for w in workloads:
            rec = record["sets"][lab]["workloads"][w]
            rec["median_vs_first"] = {}
            for n, m in gated.items():
                if n in rec["metrics"] and n in first[w]["metrics"]:
                    a, b = first[w]["metrics"][n]["median"], rec["metrics"][n]["median"]
                    worse = (b - a) / a if m["better"] == "lower" else (a - b) / a
                    rec["median_vs_first"][n] = {"ratio": b / a, "worse_by": worse,
                                                 "within_bound": worse <= m["bound"]}
    os.makedirs(os.path.dirname(os.path.abspath(args.out)), exist_ok=True)
    with open(args.out, "w") as fh:
        json.dump(record, fh, indent=1)
    for lab in labels:
        for w in workloads:
            rec = record["sets"][lab]["workloads"][w]
            for n in gated:
                m = rec["metrics"].get(n)
                if not m:
                    continue
                extra = ""
                if n in rec.get("median_vs_first", {}):
                    extra += f" vs_set1={rec['median_vs_first'][n]['ratio']:.3f}"
                if n in rec.get("tracing_overhead", {}):
                    extra += f" tracing_overhead={rec['tracing_overhead'][n]:+.3f}"
                print(f"{lab} {w:14s} {n:18s} median={m['median']:.4g} "
                      f"spread={m['spread']:.3f} bound={gated[n]['bound']}{extra}")


if __name__ == "__main__":
    main()
