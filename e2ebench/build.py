#!/usr/bin/env python3
"""Build file of the benchmark: compiles the engine (src/main/scala) and the
benchmark harness (e2ebench/scala) with the Scala compiler that ships in
Spark's jar directory, into .bench_build/ at the repository root.

A build is reused while no source file changes. Usage: python3 e2ebench/build.py
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
OUT = os.path.join(ROOT, ".bench_build", "e2ebench")


class BuildError(RuntimeError):
    pass


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home or not os.path.isdir(os.path.join(home, "jars")):
        raise BuildError("SPARK_HOME must name a Spark 4 installation with a jars/ directory")
    return sorted(glob.glob(os.path.join(home, "jars", "*.jar")))


def sources():
    engine = os.path.join(ROOT, "src", "main", "scala")
    if not os.path.isdir(engine):
        raise BuildError(f"engine sources not found under {engine}")
    files = sorted(glob.glob(os.path.join(engine, "**", "*.scala"), recursive=True))
    files += sorted(glob.glob(os.path.join(ROOT, "e2ebench", "scala", "*.scala")))
    return files


def build():
    """Return the classes directory, compiling first if any source changed."""
    srcs, jars = sources(), spark_jars()
    h = hashlib.sha256()
    for p in srcs + jars:
        h.update(os.path.relpath(p, ROOT).encode() + b"\0")
        if p.endswith(".scala"):
            with open(p, "rb") as fh:
                h.update(fh.read())
    stamp = h.hexdigest()
    classes, stamp_file = os.path.join(OUT, "classes"), os.path.join(OUT, "stamp")
    if os.path.isdir(classes) and os.path.exists(stamp_file):
        with open(stamp_file) as fh:
            if fh.read() == stamp:
                return classes
    tmp = classes + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    compiler = [j for j in jars if os.path.basename(j).startswith(
        ("scala-compiler-", "scala-library-", "scala-reflect-"))]
    if len(compiler) != 3:
        raise BuildError("scala-compiler, scala-library and scala-reflect jars not found in SPARK_HOME/jars")
    cmd = ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", os.pathsep.join(compiler),
           "scala.tools.nsc.Main", "-nowarn", "-d", tmp, "-classpath", os.pathsep.join(jars)] + srcs
    r = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        raise BuildError("compilation failed:\n" + r.stdout[-4000:])
    shutil.rmtree(classes, ignore_errors=True)
    os.rename(tmp, classes)
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    return classes


if __name__ == "__main__":
    try:
        print(build())
    except BuildError as e:
        sys.exit(f"e2ebench build: {e}")
