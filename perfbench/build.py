#!/usr/bin/env python3
"""Build file of the benchmark: compiles the engine's sources together with
the benchmark's own Scala sources into one class directory, using the Scala
compiler and the jars that ship with Spark (the jars the engine's build.sbt
compiles against). A build is skipped when a stamp of every
source file is unchanged.

    python3 perfbench/build.py            # prints the class directory
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SOURCE_DIRS = [os.path.join(ROOT, "src", "main", "scala"), os.path.join(HERE, "src")]


def spark_jars():
    """$SPARK_HOME/jars, else the jars of the first Spark distribution whose
    spark-submit is on the PATH."""
    homes = [os.environ.get("SPARK_HOME", "")] + [
        os.path.dirname(os.path.dirname(os.path.realpath(os.path.join(d, "spark-submit"))))
        for d in os.environ.get("PATH", "").split(os.pathsep)
        if os.path.exists(os.path.join(d, "spark-submit"))]
    for home in homes:
        if home and glob.glob(os.path.join(home, "jars", "scala-compiler-*.jar")):
            return os.path.join(home, "jars")
    raise RuntimeError("no Spark jars: set SPARK_HOME or put spark-submit on the PATH")


def build_dir():
    """The build output directory: $CARGO_TARGET_DIR when set (relative to
    the checkout root), else .bench_build."""
    d = os.environ.get("CARGO_TARGET_DIR") or ".bench_build"
    return os.path.join(ROOT, d) if not os.path.isabs(d) else d


def sources():
    files = []
    for d in SOURCE_DIRS:
        files += glob.glob(os.path.join(d, "**", "*.scala"), recursive=True)
    return sorted(files)


def stamp(files):
    h = hashlib.sha256()
    for f in files + [os.path.abspath(__file__)]:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build():
    """Compile if needed; return the class directory. Raises when the
    sources are missing or do not compile."""
    if not os.path.isdir(SOURCE_DIRS[0]):
        raise RuntimeError("no engine sources at %s" % SOURCE_DIRS[0])
    files = sources()
    out = os.path.join(build_dir(), "perfbench")
    classes = os.path.join(out, "classes")
    stamp_file = os.path.join(out, "stamp")
    want = stamp(files)
    if os.path.exists(stamp_file):
        with open(stamp_file) as fh:
            if fh.read() == want:
                return classes
    shutil.rmtree(classes, ignore_errors=True)
    os.makedirs(classes)
    jars = spark_jars()
    compiler = [os.path.join(jars, "scala-%s-2.13.17.jar" % n)
                for n in ("compiler", "library", "reflect")]
    argfile = os.path.join(out, "sources.txt")
    with open(argfile, "w") as fh:
        fh.write("\n".join(files) + "\n")
    r = subprocess.run(
        ["java", "-Xss8m", "-Xmx3g", "-cp", os.pathsep.join(compiler),
         "scala.tools.nsc.Main", "-nowarn", "-classpath", os.path.join(jars, "*"),
         "-d", classes, "@" + argfile],
        stdout=sys.stderr, stderr=sys.stderr)
    if r.returncode != 0:
        raise RuntimeError("scalac failed with code %d" % r.returncode)
    with open(stamp_file, "w") as fh:
        fh.write(want)
    return classes


if __name__ == "__main__":
    print(build())
