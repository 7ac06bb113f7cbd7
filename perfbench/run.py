#!/usr/bin/env python3
"""Runs one workload of the insert-by-timeperiod benchmark.

    python3 perfbench/run.py --workload build_daily --seed 1 --seconds 5 --trace 0

Run it from the repository root. It builds the program and the benchmark
from source (see build.py) into $CARGO_TARGET_DIR, default .bench_build,
then runs perfbench.Main in one JVM with Spark in local mode on every
core. The last line of standard output is the result object; lines
before it starting with '#' are notes (host facts, failures, the trace
file). `--scale tiny` and `--gate-selftest` are for smoke.py.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ["build_daily", "build_monthly_sql", "maintain"]
RUN_TIMEOUT_S = 170
HEAP = "3g"

# The module openings Spark needs on JDK 17 outside spark-submit, as build.sbt lists them.
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg, code=2):
    print(f"run.py: {msg}", file=sys.stderr)
    sys.exit(code)


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=15)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--scale", choices=["full", "tiny"], default="full")
    ap.add_argument("--gate-selftest", action="store_true")
    args = ap.parse_args()
    if not args.gate_selftest and not args.workload:
        fail("--workload is required")
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        fail(f"the program's sources (src/main/scala) are not under {ROOT}")

    out = os.path.join(ROOT, os.environ.get("CARGO_TARGET_DIR") or ".bench_build")
    os.makedirs(out, exist_ok=True)
    signal.signal(signal.SIGTERM, lambda *_: (stop_all(), sys.exit(143)))
    b = spawn([sys.executable, "-B", os.path.join(HERE, "build.py"), "--out", out], stdout=subprocess.PIPE)
    built = b.communicate()[0]
    if b.returncode != 0:
        fail("build failed", b.returncode or 1)
    jar = built.strip().splitlines()[-1]
    sys.path.insert(0, HERE)
    sys.dont_write_bytecode = True
    import build  # noqa: E402  (for the Spark jar location only)

    name = "gate-selftest" if args.gate_selftest else args.workload
    work = os.path.join(out, "work", f"{name}-{args.seed}-{os.getpid()}")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    try:
        result = run_benchmark(args, jar, build.spark_jars(), work, tmp, os.path.join(out, "traces"))
    finally:
        stop_all()
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result), flush=True)


CHILDREN = []


def spawn(cmd, **kw):
    """Starts a child in a process group of its own, so stop_all() ends it
    and everything it started."""
    p = subprocess.Popen(cmd, text=True, start_new_session=True, **kw)
    CHILDREN.append(p)
    return p


def stop_all():
    for p in CHILDREN:
        try:
            os.killpg(p.pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
        p.wait()


def run_benchmark(args, jar, spark_jars, work, tmp, traces):
    cores = len(os.sched_getaffinity(0))
    # C1 only: a run lasts too short a time to outlast the C2 warm-up curve,
    # so it measures code compiled the same way from its first round on.
    # A fixed heap and the parallel collector: no heap resizing and no
    # concurrent GC threads, so a run's GC work does not vary with timing.
    jvm = ["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+UseParallelGC", "-XX:TieredStopAtLevel=1",
           "-Xss8m", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}"]
    for p in ADD_OPENS:
        jvm += ["--add-opens", f"{p}=ALL-UNNAMED"]
    jvm += ["-cp", jar + os.pathsep + os.path.join(spark_jars, "*")]
    main_args = ["perfbench.Main", "--cores", str(cores), "--seed", str(args.seed)]

    # A class-data archive of the classes a run loads, made once per build by
    # a tiny traced run of the SQL workload: later JVMs map those classes
    # instead of loading them, which shortens each run's cold start.
    jsa = os.path.splitext(jar)[0] + ".jsa"
    if not os.path.exists(jsa):
        spawn(jvm + [f"-XX:ArchiveClassesAtExit={jsa}.tmp"] + main_args +
              ["--work", os.path.join(work, "cds"), "--workload", "build_monthly_sql",
               "--scale", "tiny", "--seconds", "0", "--trace", "1"],
              stdout=subprocess.DEVNULL, stderr=subprocess.DEVNULL, cwd=work).wait(timeout=600)
        if os.path.exists(jsa + ".tmp"):
            os.rename(jsa + ".tmp", jsa)
    if os.path.exists(jsa):
        jvm += [f"-XX:SharedArchiveFile={jsa}"]

    cmd = jvm + main_args + ["--work", os.path.join(work, "run"), "--scale", args.scale]
    if args.gate_selftest:
        cmd += ["--gate-selftest"]
    else:
        cmd += ["--workload", args.workload, "--seconds", str(args.seconds), "--trace", str(args.trace)]

    proc = spawn(cmd, stdout=subprocess.PIPE, cwd=work, env=dict(os.environ, PERFBENCH_TRACE_DIR=traces))
    signal.signal(signal.SIGALRM, lambda *_: stop_all())
    signal.alarm(RUN_TIMEOUT_S)
    last = ""
    for line in proc.stdout:
        line = line.rstrip("\n")
        if line.strip():
            last = line
            if not line.startswith("{"):
                print(line, flush=True)
    code = proc.wait()
    signal.alarm(0)
    if code != 0:
        fail(f"benchmark process exited with {code}", code if code > 0 else 1)
    try:
        return json.loads(last)
    except ValueError:
        fail(f"last output line is not a result object: {last[:200]}", 1)

if __name__ == "__main__":
    main()
