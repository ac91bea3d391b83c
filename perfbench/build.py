#!/usr/bin/env python3
"""Build file of the benchmark package: compiles the engine
(`src/main/scala`) together with the harness (`perfbench/harness`) into
`.bench_build/classes`, using the Scala compiler that ships in Spark's jars.

One source edit is made on the way: the engine's scratch root, a fixed
absolute path in `graft/sources/IngestOps.scala`, is replaced everywhere by
`.bench_build/lake` so the benchmark reads and writes only inside its own
checkout. The build is skipped when a stamp of every source byte, the
scratch root and the compiler classpath is unchanged.

The classes are packed into `.bench_build/engine.jar`: the JVM's
class-data sharing (see `CDS`) archives classes from jars only.

Usage: python3 perfbench/build.py   (run from the repository root)
"""
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys
import zipfile

ROOT = os.path.abspath(os.path.join(os.path.dirname(__file__), ".."))
BUILD = os.path.join(ROOT, ".bench_build")
CLASSES = os.path.join(BUILD, "classes")
JAR = os.path.join(BUILD, "engine.jar")
# Class-data sharing archive of the classes the harness loads, dumped at the
# exit of the first harness JVM of a build and mapped by every later one; it
# takes about 5 s of class loading off each run's first set-up.
CDS = os.path.join(BUILD, "classes.jsa")
LAKE = os.path.join(BUILD, "lake")
SCRATCH_ROOT = re.compile(r'val root = new java\.io\.File\("([^"]+)"\)')


def spark_jars():
    """`$SPARK_HOME/jars`, or the `jars` dir beside `spark-submit`."""
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if not submit:
            raise SystemExit("build: set SPARK_HOME (Spark's jars hold the "
                             "Scala compiler)")
        home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    return os.path.join(home, "jars")


SPARK_JARS = spark_jars()


def sources():
    engine = sorted(glob.glob(os.path.join(ROOT, "src/main/scala/**/*.scala"),
                              recursive=True))
    harness = sorted(glob.glob(os.path.join(ROOT, "perfbench/harness/*.scala")))
    if not engine:
        raise SystemExit("build: no engine sources under src/main/scala")
    return engine, harness


def classpath():
    return os.path.join(SPARK_JARS, "*")


def stamp(files):
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    h.update(LAKE.encode())
    h.update("\n".join(sorted(os.listdir(SPARK_JARS))).encode())
    return h.hexdigest()


def build():
    """Compile if needed; return the runtime classpath."""
    engine, harness = sources()
    want = stamp(engine + harness)
    stamp_file = os.path.join(BUILD, "classes.stamp")
    cp = JAR + os.pathsep + classpath()
    if (os.path.exists(stamp_file) and open(stamp_file).read() == want and
            os.path.exists(JAR)):
        return cp
    ingest = os.path.join(ROOT, "src/main/scala/graft/sources/IngestOps.scala")
    m = SCRATCH_ROOT.search(open(ingest, encoding="utf-8").read())
    scratch = m.group(1) if m else None
    src = os.path.join(BUILD, "src")
    shutil.rmtree(src, ignore_errors=True)
    shutil.rmtree(CLASSES, ignore_errors=True)
    for f in (JAR, CDS):
        if os.path.exists(f):
            os.remove(f)
    os.makedirs(CLASSES)
    files = []
    for f in engine:
        out = os.path.join(src, os.path.relpath(f, ROOT))
        os.makedirs(os.path.dirname(out), exist_ok=True)
        with open(f, encoding="utf-8") as fh:
            text = fh.read()
        if scratch:
            text = text.replace(scratch, LAKE)
        with open(out, "w", encoding="utf-8") as fh:
            fh.write(text)
        files.append(out)
    files += harness
    print(f"build: compiling {len(files)} sources", file=sys.stderr)
    r = subprocess.run(
        ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", classpath(),
         "scala.tools.nsc.Main", "-nowarn", "-d", CLASSES,
         "-classpath", classpath()] + files,
        stdout=sys.stderr)
    if r.returncode != 0:
        raise SystemExit(f"build: scalac exited {r.returncode}")
    with zipfile.ZipFile(JAR, "w", zipfile.ZIP_STORED) as z:
        for d, _, names in sorted(os.walk(CLASSES)):
            for n in sorted(names):
                f = os.path.join(d, n)
                z.write(f, os.path.relpath(f, CLASSES))
    with open(stamp_file, "w") as fh:
        fh.write(want)
    return cp


if __name__ == "__main__":
    build()
