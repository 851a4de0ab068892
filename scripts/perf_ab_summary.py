#!/usr/bin/env python3
"""Summarize interleaved A/B runs written by scripts/perf_ab.sh.

For each workload and each end-to-end metric of BENCHMARK.json, over the
untraced runs: each side's median and quartiles, the pairs (base and
change on one seed) each side wins (ties count for neither), and whether
the gain rule holds: the change wins at least 9/10 of at least ten
pairs, and its median beats the base median by more than the distance
between the base's quartiles.

Next to it, a regression verdict against the metric's BENCHMARK.json
bound (a fraction of the base median):
  regressed     the change median is worse than the base median by more
                than the bound;
  unresolved    the base's quartile spread is wider than the bound and
                not every change run beats every base run, so these runs
                cannot tell a regression from host noise;
  within bound  otherwise.

Last, the within-pair order effect: the median over the pairs of the
second run's value divided by the first run's, whichever side ran
second. A ratio far from 1 means the position in a pair moves the metric
by itself. Records without "order" (files older than that field) are
left out of this column only.

Usage: python3 scripts/perf_ab_summary.py <perf_ab jsonl>...
"""
import json
import os
import statistics
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def quartiles(xs):
    if len(xs) == 1:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, q2, q3


def load(paths):
    """{workload: {seed: {side: [(metrics, order), ...]}}} of correct untraced runs,
    and a count of the runs left out per (workload, reason)."""
    runs, left_out = {}, {}
    for path in paths:
        with open(path) as f:
            for line in f:
                if not line.strip():
                    continue
                rec = json.loads(line)
                w, res = rec["workload"], rec["result"]
                if rec.get("trace", 0):
                    reason = "traced"
                elif not res:
                    reason = "no result"
                elif not res["correct"] or res.get("failed", 0):
                    reason = "incorrect or failed"
                else:
                    seeds = runs.setdefault(w, {}).setdefault(rec["seed"], {})
                    seeds.setdefault(rec["side"], []).append((
                        {k: v["value"] for k, v in res["metrics"].items()},
                        rec.get("order")))
                    continue
                key = (w, reason)
                left_out[key] = left_out.get(key, 0) + 1
    return runs, left_out


def verdict(base_runs, change_runs, bound, lower):
    """'regressed', 'unresolved' or 'within bound' (see the module doc)."""
    base, change = quartiles(sorted(base_runs)), quartiles(sorted(change_runs))
    worse = change[1] - base[1] if lower else base[1] - change[1]
    if worse > bound * abs(base[1]):
        return "regressed"
    beats_all = (max(change_runs) < min(base_runs) if lower
                 else min(change_runs) > max(base_runs))
    if base[2] - base[0] > bound * abs(base[1]) and not beats_all:
        return "unresolved"
    return "within bound"


def summarize(paths, metrics):
    """One row per workload and end-to-end metric, and the left-out counts."""
    runs, left_out = load(paths)
    rows = []
    for w in sorted(runs):
        # k-th base run of a seed pairs with its k-th change run
        pairs = [(b, c) for sides in runs[w].values()
                 for b, c in zip(sides.get("base", []), sides.get("change", []))]
        for m in metrics:
            name, lower = m["name"], m["better"] == "lower"
            ps = [(b[name], c[name]) for (b, _), (c, _) in pairs
                  if name in b and name in c]
            if not ps:
                continue
            # (first, second) of each pair whose runs both record their order
            ordered = [(b[name], c[name]) if bo == 1 else (c[name], b[name])
                       for (b, bo), (c, co) in pairs
                       if {bo, co} == {1, 2} and name in b and name in c]
            ratios = [second / first for first, second in ordered if first]
            base = quartiles(sorted(b for b, _ in ps))
            change = quartiles(sorted(c for _, c in ps))
            wins = sum((c < b) if lower else (c > b) for b, c in ps)
            losses = sum((c > b) if lower else (c < b) for b, c in ps)
            gap = base[1] - change[1] if lower else change[1] - base[1]
            rows.append({
                "workload": w, "metric": name, "pairs": len(ps),
                "base": base, "change": change, "wins": wins, "losses": losses,
                "gain_met": len(ps) >= 10 and wins >= 0.9 * len(ps)
                            and gap > base[2] - base[0],
                "verdict": verdict([b for b, _ in ps], [c for _, c in ps],
                                   m["bound"], lower),
                "order_ratio": statistics.median(ratios) if ratios else None,
                "order_pairs": len(ratios)})
    return rows, left_out


def main(paths):
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        metrics = json.load(f)["end_to_end"]
    rows, left_out = summarize(paths, metrics)
    for (w, reason), n in sorted(left_out.items()):
        print(f"{w}: {n} run(s) left out ({reason})")
    print(f"{'workload':<14} {'metric':<17} {'pairs':>5} {'base median [q1, q3]':>30} "
          f"{'change median [q1, q3]':>30} {'wins c/b':>8}  gain rule             "
          f"{'verdict':<12}  2nd/1st (pairs)")
    fmt = lambda q: f"{q[1]:.4g} [{q[0]:.4g}, {q[2]:.4g}]"
    for r in rows:
        base, change = r["base"], r["change"]
        gain = (f"{'met' if r['gain_met'] else 'not met'}"
                f" (change {100 * (change[1] / base[1] - 1):+.1f}%)")
        order = ("-" if r["order_ratio"] is None
                 else f"{r['order_ratio']:.3f} ({r['order_pairs']})")
        print(f"{r['workload']:<14} {r['metric']:<17} {r['pairs']:>5} {fmt(base):>30} "
              f"{fmt(change):>30} {r['wins']:>3}/{r['losses']:<4}  {gain:<21} "
              f"{r['verdict']:<12}  {order}")


if __name__ == "__main__":
    if len(sys.argv) < 2:
        sys.exit(__doc__.strip().splitlines()[-1])
    main(sys.argv[1:])
