#!/usr/bin/env python3
"""Steadiness report: repeats one workload with consecutive seeds and prints,
for each metric, its median and its interquartile spread as a share of the
median, next to the bound BENCHMARK.json gives it. With --trace 0 it adds the host
calibration job's times, which tell a busy host from a slower program.

    python3 perfbench/steady.py --workload txn [--runs 10] [--seed 1] [--trace 0]

A spread at or under a third of the bound is marked "ok", one under the
bound "near", one over it "OVER". The per-run JSON lines are kept in
.bench_build/steady-<workload>.jsonl.
"""
import argparse
import json
import os
import re
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def main():
    p = argparse.ArgumentParser()
    p.add_argument("--workload", required=True)
    p.add_argument("--runs", type=int, default=10)
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--trace", type=int, default=0)
    a = p.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    bounds = {m["name"]: m.get("bound") for m in spec["end_to_end"] + spec["per_layer"]}

    values = {}
    failed = 0
    log = os.path.join(ROOT, ".bench_build", f"steady-{a.workload}.jsonl")
    os.makedirs(os.path.dirname(log), exist_ok=True)
    with open(log, "w") as out:
        for i in range(a.runs):
            cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", a.workload,
                   "--seed", str(a.seed + i), "--seconds", str(spec["run_seconds"]),
                   "--trace", str(a.trace)]
            r = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE,
                               stderr=subprocess.PIPE, text=True)
            # the host calibration job, before and after the timed passes
            calib = re.search(r"calib before ([0-9.]+) s, after ([0-9.]+) s", r.stderr)
            line = r.stdout.strip().splitlines()[-1] if r.stdout.strip() else ""
            if r.returncode != 0 or not line.startswith("{"):
                print(f"run {i + 1}: exit {r.returncode}", file=sys.stderr)
                failed += 1
                continue
            out.write(line + "\n")
            res = json.loads(line)
            failed += 0 if res["correct"] else 1
            for k, m in res["metrics"].items():
                values.setdefault(k, []).append(m["value"])
            if calib:
                values.setdefault("host.calib_before_s", []).append(float(calib.group(1)))
                values.setdefault("host.calib_after_s", []).append(float(calib.group(2)))
            print(f"run {i + 1}/{a.runs}: correct={res['correct']}"
                  + "".join(f" {k}={m['value']:.4g}" for k, m in res["metrics"].items())
                  + (f" {calib.group(0)}" if calib else ""), file=sys.stderr)

    print(f"{a.workload}: {a.runs} runs, {failed} failed or incorrect")
    print(f"{'metric':28} {'median':>12} {'spread':>8} {'bound':>6}")
    for k, v in values.items():
        med = statistics.median(v)
        if len(v) >= 2 and med:
            q = statistics.quantiles(v, n=4)
            spread = (q[2] - q[0]) / med
        else:
            spread = float("nan")
        b = bounds.get(k)
        mark = ""
        if b:
            mark = "ok" if spread <= b / 3 else "near" if spread <= b else "OVER"
        print(f"{k:28} {med:12.4f} {spread:8.3f} {b if b else '':>6} {mark}")
    sys.exit(1 if failed else 0)


if __name__ == "__main__":
    main()
