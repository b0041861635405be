#!/usr/bin/env python3
"""Build file of the graft benchmark.

Compiles graft's main sources (`src/main/scala`) together with the
benchmark harness (`perfbench/src`) into `.bench_build/classes` with the
Scala compiler that ships in the Spark distribution (`$SPARK_HOME/jars`,
or the distribution of the `spark-submit` on the PATH). No sbt, no
dependency resolution, no network: the classpath is exactly the Spark
jars, the same classpath graft runs on.

    python3 perfbench/build.py          # from the repository root

A build is skipped when a stamp of every source file's content matches
the last successful build.
"""
import hashlib
import os
import shutil
import subprocess
import sys

BUILD_DIR = ".bench_build"


def spark_jars():
    """`$SPARK_HOME/jars`, else the jars of the first Spark distribution
    whose `bin/spark-submit` is on the PATH."""
    homes = [os.environ.get("SPARK_HOME", "")] + [
        os.path.dirname(os.path.realpath(d)) for d in os.environ.get("PATH", "").split(os.pathsep)
        if os.path.isfile(os.path.join(d, "spark-submit"))]
    for home in homes:
        jars = os.path.join(home, "jars")
        if home and os.path.isdir(jars) and any(f.startswith("spark-core") for f in os.listdir(jars)):
            return jars
    raise SystemExit("build: Spark jars not found (set SPARK_HOME)")


def sources(root):
    found = []
    for base in (os.path.join(root, "src", "main", "scala"),
                 os.path.join(root, "perfbench", "src")):
        if not os.path.isdir(base):
            raise SystemExit(f"build: source directory {base} is missing")
        for d, _, files in os.walk(base):
            found += [os.path.join(d, f) for f in files if f.endswith(".scala")]
    return sorted(found)


def stamp(files):
    h = hashlib.sha256()
    for f in files:
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build(root="."):
    """Compile if needed; returns the classes directory."""
    files = sources(root)
    out = os.path.join(root, BUILD_DIR, "classes")
    stamp_file = os.path.join(root, BUILD_DIR, "classes.stamp")
    want = stamp(files)
    if os.path.isdir(out) and os.path.exists(stamp_file):
        with open(stamp_file) as fh:
            if fh.read().strip() == want:
                return out
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(os.path.join(root, BUILD_DIR), exist_ok=True)
    os.makedirs(tmp)
    argfile = os.path.join(root, BUILD_DIR, "sources.txt")
    with open(argfile, "w") as fh:
        fh.write("\n".join(files) + "\n")
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", os.path.join(spark_jars(), "*"),
           "scala.tools.nsc.Main", "-usejavacp", "-nowarn", "-d", tmp,
           "@" + argfile]
    print(f"build: compiling {len(files)} Scala files", file=sys.stderr, flush=True)
    r = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr)
    if r.returncode != 0:
        raise SystemExit(f"build: scalac failed with exit code {r.returncode}")
    shutil.rmtree(out, ignore_errors=True)
    os.rename(tmp, out)
    with open(stamp_file, "w") as fh:
        fh.write(want + "\n")
    return out


if __name__ == "__main__":
    print(build())
