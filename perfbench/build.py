#!/usr/bin/env python3
"""Builds the benchmark: compiles the program's sources (src/main/scala)
together with the benchmark's own (perfbench/src) into <out>/perfbench.jar
and prints the jar's path.

    python3 perfbench/build.py --out .bench_build

The Spark distribution the program builds against is the one its
build.sbt names (`unmanagedBase`), or $SPARK_HOME/jars when set; its jars
include the Scala compiler. A build whose sources and jars are unchanged
is reused; a new build removes the class-data archive run.py keeps beside
the jar.
"""
import argparse
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys
import zipfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def spark_jars():
    if os.environ.get("SPARK_HOME"):
        return os.path.join(os.environ["SPARK_HOME"], "jars")
    with open(os.path.join(ROOT, "build.sbt")) as f:
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    if not m:
        sys.exit("build.py: build.sbt names no unmanagedBase and SPARK_HOME is unset")
    return m.group(1)


def sources():
    found = []
    for top in (os.path.join(ROOT, "src", "main", "scala"), os.path.join(HERE, "src")):
        for d, _, files in os.walk(top):
            found += [os.path.join(d, f) for f in files if f.endswith((".scala", ".java"))]
    return sorted(found)


def stamp(srcs, jars):
    h = hashlib.sha256()
    for p in srcs:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    for j in sorted(glob.glob(os.path.join(jars, "*.jar"))):
        h.update(os.path.basename(j).encode())
    return h.hexdigest()


def build(out):
    jars = spark_jars()
    srcs = sources()
    if not any(p.startswith(os.path.join(ROOT, "src")) for p in srcs):
        sys.exit("build.py: no program sources under src/main/scala")
    jar = os.path.join(out, "perfbench.jar")
    stamp_file = jar + ".stamp"
    want = stamp(srcs, jars)
    if os.path.exists(jar) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read().strip() == want:
                return jar
    staging = os.path.join(out, "classes.tmp")
    shutil.rmtree(staging, ignore_errors=True)
    os.makedirs(staging)
    argfile = os.path.join(out, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(srcs) + "\n")
    cp = os.path.join(jars, "*")
    cmd = ["java", "-Xmx2g", "-Xss8m", "-XX:-UsePerfData", "-cp", cp, "scala.tools.nsc.Main",
           "-nowarn", "-classpath", cp, "-d", staging, "@" + argfile]
    r = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr, timeout=780)
    if r.returncode != 0:
        sys.exit(f"build.py: compilation failed ({r.returncode})")
    with zipfile.ZipFile(jar + ".tmp", "w", zipfile.ZIP_DEFLATED) as z:
        for d, _, files in os.walk(staging):
            for f in files:
                z.write(os.path.join(d, f), os.path.relpath(os.path.join(d, f), staging))
    shutil.rmtree(staging)
    for stale in (jar, os.path.splitext(jar)[0] + ".jsa"):
        if os.path.exists(stale):
            os.remove(stale)
    os.rename(jar + ".tmp", jar)
    with open(stamp_file, "w") as f:
        f.write(want + "\n")
    return jar


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--out", required=True, help="build directory")
    args = ap.parse_args()
    os.makedirs(args.out, exist_ok=True)
    print(build(os.path.abspath(args.out)))


if __name__ == "__main__":
    main()
