#!/usr/bin/env python3
"""Run one benchmark workload and print its result.

    python3 perfbench/run.py --workload router_fanout --seed 1 --seconds 20 --trace 0

Builds the engine and harness if needed (perfbench/build.py), runs the
harness in one JVM with plain `java -cp`, checks query_mix results
against DuckDB, relays one JSON line per metric and ends with the result
line {"correct", "attempted", "failed", "metrics"}: the end-to-end
metrics of BENCHMARK.json with --trace 0, the per-layer ones with
--trace 1. See perfbench/README.md.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import build  # noqa: E402

JVM_TIMEOUT_S = 160
ADD_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
             "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
             "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]


def parse_lines(text):
    """Metric lines and the outcome line of the harness's stdout.

    Returns (metrics, outcome, lines): metrics maps a name to
    {"value", "unit", "n"}; lines are the bare metric lines as printed.
    Anything that is not one of the harness's JSON lines is skipped.
    """
    metrics, outcome, lines = {}, None, []
    for line in text.splitlines():
        line = line.strip()
        if not line.startswith("{"):
            continue
        try:
            obj = json.loads(line)
        except ValueError:
            continue
        if not isinstance(obj, dict):
            continue
        if "outcome" in obj:
            outcome = obj["outcome"]
        elif {"metric", "value", "unit", "n"} <= obj.keys():
            metrics[obj["metric"]] = {"value": obj["value"], "unit": obj["unit"], "n": obj["n"]}
            lines.append(line)
    return metrics, outcome, lines


def result_line(metrics, wanted, attempted, failed):
    """The final result object, or None if a wanted metric is missing."""
    out = {}
    for name in wanted:
        m = metrics.get(name)
        if m is None or not isinstance(m["value"], (int, float)) or isinstance(m["value"], bool):
            return None
        out[name] = {"value": m["value"], "unit": m["unit"]}
    return {"correct": failed == 0 and attempted > 0, "attempted": attempted,
            "failed": failed, "metrics": out}


def cpu_probe_ms():
    """Wall time of a fixed single-threaded hashing loop. Printed with
    every run as `host.cpu_probe_ms`, so a spread across runs can be
    told apart from the host's own speed changing."""
    t0 = time.perf_counter()
    h = b"perfbench"
    for _ in range(200000):
        h = hashlib.sha256(h).digest()
    return (time.perf_counter() - t0) * 1e3


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    bench_file = os.path.join(ROOT, "BENCHMARK.json")
    cfg_file = os.path.join(HERE, "config.json")
    bench = json.load(open(bench_file))
    cfg = json.load(open(cfg_file))
    if args.workload not in [w["name"] for w in bench["workloads"]]:
        sys.exit(f"unknown workload {args.workload}")
    wanted = [m["name"] for m in bench["per_layer" if args.trace else "end_to_end"]]

    try:
        classpath = build.build()
    except build.BuildError as e:
        sys.exit(f"build failed: {e}")

    base = build.build_dir()
    work = os.path.join(base, "work", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    spans = os.path.join(base, "spans", f"{args.workload}-seed{args.seed}.jsonl")
    os.makedirs(os.path.dirname(spans), exist_ok=True)
    data = os.path.join(ROOT, cfg["query_mix"]["data"])
    log = os.path.join(base, f"last-{args.workload}.log")
    probe = cpu_probe_ms()

    cmd = (["java"] + [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in ADD_OPENS]
           + cfg["jvm"]["flags"]
           + [f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}",
              f"-Djava.io.tmpdir={work}", f"-Dspark.local.dir={work}",
              "-cp", classpath, "perfbench.Main",
              "--workload", args.workload, "--seed", str(args.seed),
              "--seconds", str(args.seconds), "--trace", str(args.trace),
              "--config", cfg_file, "--data", data, "--work", work,
              "--launched-ms", str(int(time.time() * 1000))]
           + (["--spans", spans] if args.trace else []))
    with open(log, "w") as err:
        try:
            proc = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=err,
                                  text=True, timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            sys.exit(f"harness timed out after {JVM_TIMEOUT_S} s; log: {log}")
    if proc.returncode != 0:
        sys.stderr.write(open(log).read()[-3000:])
        sys.exit(f"harness exited with {proc.returncode}; log: {log}")

    metrics, outcome, lines = parse_lines(proc.stdout)
    if outcome is None:
        sys.exit(f"harness printed no outcome; log: {log}")
    failures = list(outcome["failures"])
    failed = outcome["failed"]
    if args.workload == "query_mix":
        import oracle
        bad = oracle.compare(data, os.path.join(work, "check"), cfg["query_mix"]["pool"])
        failures += [f"oracle {b}" for b in bad]
        failed += len(bad)
    shutil.rmtree(work, ignore_errors=True)

    for line in lines:
        print(line)
    print(json.dumps({"workload": args.workload, "metric": "host.cpu_probe_ms",
                      "value": probe, "unit": "ms", "n": 1}, separators=(",", ":")))
    for f in failures[:20]:
        print(f"FAILED {f}", file=sys.stderr)
    result = result_line(metrics, wanted, outcome["attempted"], failed)
    if result is None:
        sys.exit("harness did not report every metric of BENCHMARK.json: "
                 + ", ".join(n for n in wanted if n not in metrics))
    print(json.dumps(result))


if __name__ == "__main__":
    main()
