#!/usr/bin/env python3
"""Build file of the benchmark harness.

Compiles the engine's Scala sources (src/main of the checkout; it has no
Java sources or resources) together with the harness (perfbench/src) into perfbench/.build/classes-<digest>, using the
Scala compiler that ships in the Spark distribution ($SPARK_HOME/jars, or
the jars beside `spark-submit` on PATH). The digest covers every source file
and this script, so an unchanged tree is built once and a changed one is
rebuilt.

Usage: python3 perfbench/build.py        # prints the classes directory
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(HERE, ".build")
SOURCE_DIRS = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")]


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = os.path.join(home or "", "jars")
    if not home or not glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
        sys.exit("perfbench: no Spark distribution with a Scala compiler "
                 "(set SPARK_HOME)")
    return jars


def sources():
    found = []
    for d in SOURCE_DIRS:
        for dirpath, _, files in os.walk(d):
            found += [os.path.join(dirpath, f) for f in files if f.endswith(".scala")]
    return sorted(found)


def digest(files):
    h = hashlib.sha256()
    for f in files + [os.path.abspath(__file__)]:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()[:16]


def classpath(classes):
    return os.pathsep.join([classes, os.path.join(spark_jars(), "*")])


def ensure_built(log=sys.stderr):
    """Returns the classes directory, compiling first when sources changed."""
    files = sources()
    if not os.path.isdir(os.path.join(ROOT, "src", "main")) or not files:
        sys.exit("perfbench: no engine sources under src/main; run from a "
                 "checkout of the repository")
    out = os.path.join(BUILD, "classes-" + digest(files))
    if os.path.isdir(out):
        return out
    jars = spark_jars()
    for old in glob.glob(os.path.join(BUILD, "classes-*")):
        shutil.rmtree(old, ignore_errors=True)
    tmp = out + ".tmp"
    os.makedirs(tmp)
    compiler = os.pathsep.join(
        glob.glob(os.path.join(jars, f"scala-{m}-*.jar"))[0]
        for m in ("compiler", "library", "reflect"))
    cp = os.path.join(jars, "*")
    print(f"perfbench: compiling {len(files)} sources", file=log, flush=True)
    subprocess.run(["java", "-Xss8m", "-Xmx2g", "-cp", compiler,
                    "scala.tools.nsc.Main", "-nowarn", "-classpath", cp,
                    "-d", tmp] + files, check=True, stdout=log, stderr=log)
    os.rename(tmp, out)
    return out


if __name__ == "__main__":
    print(ensure_built())
