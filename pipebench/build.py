#!/usr/bin/env python3
"""Build file of the benchmark: compiles the engine (`src/main/scala`)
and the benchmark (`pipebench/src`) with the Scala compiler that ships in
Spark's jar directory ($SPARK_HOME/jars), into
`.bench_build/pipebench/classes`.

Usage: python3 pipebench/build.py   (from the repository root)

The build is skipped when the sources are unchanged since the last one.
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def spark_home():
    """$SPARK_HOME, else the installation `spark-submit` on PATH belongs to."""
    home = os.environ.get("SPARK_HOME")
    if not home and shutil.which("spark-submit"):
        home = os.path.dirname(os.path.dirname(os.path.realpath(shutil.which("spark-submit"))))
    return home or ""


SPARK_JARS = os.path.join(spark_home(), "jars")
OUT = os.path.join(ROOT, ".bench_build", "pipebench")
CLASSES = os.path.join(OUT, "classes")
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")
ENGINE_RES = os.path.join(ROOT, "src", "main", "resources")
BENCH_SRC = os.path.join(ROOT, "pipebench", "src")


def sources():
    files = []
    for d in (ENGINE_SRC, BENCH_SRC):
        files += glob.glob(os.path.join(d, "**", "*.scala"), recursive=True)
    return sorted(files)


def classpath():
    return os.path.join(SPARK_JARS, "*")


def build():
    """Returns the classpath to run with; exits non-zero if the engine
    sources are missing or do not compile."""
    if not os.path.isdir(ENGINE_SRC):
        sys.exit(f"pipebench: engine sources not found at {ENGINE_SRC}")
    compiler = glob.glob(os.path.join(SPARK_JARS, "scala-compiler-*.jar"))
    if not compiler:
        sys.exit(f"pipebench: no scala-compiler jar in {SPARK_JARS}")
    srcs = sources()
    h = hashlib.sha256()
    for f in srcs:
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    stamp = os.path.join(OUT, "stamp")
    if os.path.exists(stamp) and open(stamp).read() == h.hexdigest():
        return CLASSES + os.pathsep + classpath()
    shutil.rmtree(OUT, ignore_errors=True)
    os.makedirs(CLASSES)
    argfile = os.path.join(OUT, "sources.txt")
    with open(argfile, "w") as fh:
        fh.write("\n".join(srcs))
    scala_cp = os.pathsep.join(
        glob.glob(os.path.join(SPARK_JARS, f"scala-{n}-*.jar"))[0]
        for n in ("compiler", "library", "reflect"))
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", scala_cp, "scala.tools.nsc.Main",
           "-usejavacp:false", "-nowarn", "-classpath", classpath(), "-d", CLASSES,
           "@" + argfile]
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-5000:])
        sys.exit(f"pipebench: compile failed ({r.returncode})")
    if os.path.isdir(ENGINE_RES):
        shutil.copytree(ENGINE_RES, CLASSES, dirs_exist_ok=True)
    with open(stamp, "w") as fh:
        fh.write(h.hexdigest())
    return CLASSES + os.pathsep + classpath()


if __name__ == "__main__":
    print(build())
