#!/usr/bin/env python3
"""Measures how steady the benchmark is: runs a workload once per seed and
reports, for each metric, the median of the runs and the distance between
their first and third quartiles as a share of that median, beside the
metric's bound from BENCHMARK.json.

    python3 perfbench/spread.py --workload maintain --seeds 1-10 [--trace 0] [--out runs.json]

A metric is steady enough when its spread stays below a third of its
bound (setup_s excepted: only its median is compared between runs).
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def seeds(spec):
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10", help="inclusive range, e.g. 1-10")
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--out", help="also write every run's result to this JSON file")
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    seconds = str(spec["run_seconds"])
    bounds = {m["name"]: m.get("bound") for m in spec["end_to_end"] + spec["per_layer"]}

    runs = []
    for seed in seeds(args.seeds):
        p = subprocess.run([sys.executable, "-B", os.path.join(HERE, "run.py"), "--workload", args.workload,
                            "--seed", str(seed), "--seconds", seconds, "--trace", str(args.trace)],
                           cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
        lines = [l for l in p.stdout.splitlines() if l.strip()]
        if p.returncode != 0 or not lines:
            sys.exit(f"seed {seed}: run failed with exit code {p.returncode}")
        res = json.loads(lines[-1])
        runs.append({"seed": seed, "result": res})
        print(f"seed {seed}: correct={res['correct']} attempted={res['attempted']} failed={res['failed']}",
              flush=True)
    if args.out:
        with open(args.out, "w") as f:
            json.dump(runs, f, indent=1)

    print(f"{'metric':40s} {'median':>14s} {'spread':>8s} {'bound':>6s}")
    for name in runs[0]["result"]["metrics"]:
        values = [r["result"]["metrics"][name]["value"] for r in runs]
        med = statistics.median(values)
        q1, _, q3 = statistics.quantiles(values, n=4)
        spread = (q3 - q1) / med if med else float("nan")
        bound = bounds.get(name)
        flag = "" if bound is None or name == "setup_s" or spread < bound / 3 else "  <-- above a third of the bound"
        print(f"{name:40s} {med:14.4f} {spread:8.3f} {bound if bound is not None else '':>6}{flag}")


if __name__ == "__main__":
    main()
