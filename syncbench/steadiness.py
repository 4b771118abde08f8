#!/usr/bin/env python3
"""Steadiness report: run the benchmark repeatedly and show, for every
workload and end-to-end metric, the median and quartiles across runs and
whether the spread (interquartile range over median) is inside the
metric's bound from BENCHMARK.json.

    python3 syncbench/steadiness.py [--runs 10] [--workload <name> ...]

Run it from the root of a checkout. Run i uses seed i (1, 2, ...). The full
report is also written to syncbench/work/steadiness.json.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time

sys.dont_write_bytecode = True

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--workload", action="append")
    a = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    workloads = a.workload or [w["name"] for w in spec["workloads"]]
    report = {}
    for w in workloads:
        values, walls = {}, []
        for seed in range(1, a.runs + 1):
            t = time.time()
            out = subprocess.run([sys.executable, os.path.join(BENCH, "run.py"), "--workload", w,
                                  "--seed", str(seed), "--seconds", str(spec["run_seconds"]),
                                  "--trace", "0"], cwd=ROOT, capture_output=True, text=True)
            walls.append(time.time() - t)
            last = out.stdout.strip().splitlines()[-1] if out.stdout.strip() else ""
            if out.returncode != 0:
                sys.exit(f"{w} seed {seed}: exit {out.returncode}: {last}")
            res = json.loads(last)
            if not res["correct"]:
                print(f"{w} seed {seed}: {res['failed']} of {res['attempted']} ops failed")
            for k, v in res["metrics"].items():
                values.setdefault(k, []).append(v["value"])
            print(f"{w} seed {seed}: {walls[-1]:.1f} s wall", flush=True)
        rows = {}
        for m in spec["end_to_end"]:
            xs = values[m["name"]]
            q1, med, q3 = statistics.quantiles(xs, n=4)
            spread = (q3 - q1) / med if med else float("inf")
            rows[m["name"]] = {"median": med, "q1": q1, "q3": q3, "spread": spread,
                               "bound": m["bound"], "inside": spread <= m["bound"],
                               "below_third": spread < m["bound"] / 3, "values": xs}
        report[w] = {"metrics": rows, "wall_s": walls}
        print(f"\n{w}: {len(walls)} runs, median wall {statistics.median(walls):.1f} s")
        print(f"  {'metric':<18} {'median':>12} {'q1':>12} {'q3':>12} {'spread':>8} {'bound':>6}")
        for name, r in rows.items():
            flag = "ok" if r["below_third"] else ("inside" if r["inside"] else "OUTSIDE")
            print(f"  {name:<18} {r['median']:>12.4f} {r['q1']:>12.4f} {r['q3']:>12.4f} "
                  f"{r['spread']:>8.3f} {r['bound']:>6.2f} {flag}")
    os.makedirs(os.path.join(BENCH, "work"), exist_ok=True)
    with open(os.path.join(BENCH, "work", "steadiness.json"), "w") as fh:
        json.dump(report, fh, indent=1)


if __name__ == "__main__":
    main()
