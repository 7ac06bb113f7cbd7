#!/usr/bin/env python3
"""Smoke test of the benchmark at tiny scale.

    python3 perfbench/smoke.py

Checks that every workload (those in BENCHMARK.json and
build_monthly_sql, which run.py also runs), untraced and traced,
passes its correctness gate with no failed operation and prints exactly
the end-to-end (untraced) or per-layer (traced) metrics BENCHMARK.json
declares, each a number with the declared unit; and that the correctness
gate rejects a target holding one planted wrong row. Exits 1 on any
failure.
"""
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def run(args):
    p = subprocess.run([sys.executable, "-B", os.path.join(HERE, "run.py"), "--scale", "tiny"] + args,
                       cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True, timeout=600)
    lines = [l for l in p.stdout.splitlines() if l.strip()]
    try:
        return p.returncode, json.loads(lines[-1]) if lines else None
    except ValueError:
        return p.returncode, None


def check_result(res, declared):
    problems = []
    if res is None:
        return ["no result object on the last line"]
    if set(res) != {"correct", "attempted", "failed", "metrics"}:
        problems.append(f"result keys are {sorted(res)}")
    if res.get("correct") is not True:
        problems.append("correctness gate failed")
    if not isinstance(res.get("attempted"), int) or res["attempted"] < 1 or res.get("failed") != 0:
        problems.append(f"attempted={res.get('attempted')} failed={res.get('failed')}")
    got = res.get("metrics", {})
    for name, unit in declared.items():
        m = got.get(name)
        if m is None:
            problems.append(f"missing metric {name}")
        elif m.get("unit") != unit or not isinstance(m.get("value"), (int, float)):
            problems.append(f"metric {name} is {m}, want a number in {unit}")
    problems += [f"undeclared metric {n}" for n in got if n not in declared]
    return problems


def main():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    failures = []
    sys.path.insert(0, HERE)
    sys.dont_write_bytecode = True
    from run import WORKLOADS  # noqa: E402
    listed = [w["name"] for w in spec["workloads"]]
    for w in listed + [w for w in WORKLOADS if w not in listed]:
        for trace, kind in ((0, "end_to_end"), (1, "per_layer")):
            declared = {m["name"]: m["unit"] for m in spec[kind]}
            code, res = run(["--workload", w, "--seed", "7", "--seconds", "1", "--trace", str(trace)])
            problems = ([f"exit code {code}"] if code else []) + check_result(res, declared)
            print(f"{w} --trace {trace}: {'ok' if not problems else '; '.join(problems)}", flush=True)
            failures += problems
    code, res = run(["--gate-selftest"])
    ok = code == 0 and res == {"gate_selftest": True}
    print(f"gate rejects a planted wrong row: {'ok' if ok else f'FAILED (exit {code}, {res})'}", flush=True)
    if not ok:
        failures.append("gate selftest")
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()
