#!/usr/bin/env python3
"""Build file of the warm-pass benchmark.

Compiles the engine (`src/main/scala` of the checkout) together with the
benchmark's own JVM sources (`warmbench/scala`) with the Scala compiler that
ships in Spark's jar directory (`$SPARK_HOME/jars`, else that of a Spark
install on PATH), into `warmbench/.build/classes`. A stamp of the source
contents skips the compile when nothing changed.

Usage: python3 warmbench/build.py   (prints the runtime classpath)
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(HERE, ".build")
CLASSES = os.path.join(OUT, "classes")
STAMP = os.path.join(OUT, "stamp")


class BuildError(Exception):
    pass


def spark_jars():
    """Jars of $SPARK_HOME, else of the first Spark install on PATH whose
    jar directory carries a Scala compiler."""
    homes = [os.environ["SPARK_HOME"]] if os.environ.get("SPARK_HOME") else [
        os.path.dirname(d) for d in os.environ.get("PATH", "").split(os.pathsep)
        if os.path.isfile(os.path.join(d, "spark-submit"))]
    for home in homes:
        jars = sorted(glob.glob(os.path.join(home, "jars", "*.jar")))
        if any(os.path.basename(j).startswith("scala-compiler") for j in jars):
            return jars
    raise BuildError(f"no Spark jars with a Scala compiler under {homes}")


def sources():
    engine = os.path.join(ROOT, "src", "main", "scala")
    if not os.path.isdir(engine):
        raise BuildError(f"engine sources not found at {engine}")
    files = []
    for d in (engine, os.path.join(HERE, "scala")):
        files += glob.glob(os.path.join(d, "**", "*.scala"), recursive=True)
    return sorted(files)


def ensure_built(timeout=None):
    """Compile if the sources changed, within timeout seconds; return the
    runtime classpath."""
    jars = spark_jars()
    srcs = sources()
    h = hashlib.sha256()
    for f in srcs + jars:
        h.update(f.encode())
        if f.endswith(".scala"):
            with open(f, "rb") as fh:
                h.update(fh.read())
    stamp = h.hexdigest()
    cp = [CLASSES] + jars
    if os.path.exists(STAMP) and open(STAMP).read() == stamp:
        return cp
    shutil.rmtree(OUT, ignore_errors=True)
    os.makedirs(CLASSES)
    argfile = os.path.join(OUT, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(srcs))
    jcp = ":".join(jars)
    try:
        r = subprocess.run(
            ["java", "-Xss16m", "-Xmx2g", "-cp", jcp, "scala.tools.nsc.Main",
             "-nowarn", "-d", CLASSES, "-classpath", jcp, f"@{argfile}"],
            stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True,
            timeout=timeout)
    except subprocess.TimeoutExpired:
        raise BuildError(f"scalac did not finish within {timeout} s")
    if r.returncode != 0:
        raise BuildError("scalac failed:\n" + r.stdout[-4000:])
    with open(STAMP, "w") as f:
        f.write(stamp)
    return cp


if __name__ == "__main__":
    try:
        print(":".join(ensure_built()))
    except BuildError as e:
        sys.exit(f"build failed: {e}")
