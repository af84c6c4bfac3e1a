#!/usr/bin/env python3
"""Build the engine and the benchmark program from source.

Compiles every Scala file under the engine's ``src/main/scala`` together
with the benchmark's own ``perfbench/src`` using the Scala compiler that
ships with Spark, against Spark's jars. The classes go to
``.bench_build/classes`` at the repository root. A stamp of the sources'
contents skips the compile when nothing changed.

Usage: python3 perfbench/build.py
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)
BUILD_DIR = os.path.join(ROOT, ".bench_build")
CLASSES = os.path.join(BUILD_DIR, "classes")
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")
ENGINE_RESOURCES = os.path.join(ROOT, "src", "main", "resources")
BENCH_SRC = os.path.join(BENCH_DIR, "src")


def spark_jars():
    """Spark's jars: under $SPARK_HOME, else beside the first spark-submit
    on PATH that has them."""
    homes = [os.environ.get("SPARK_HOME", "")] + [
        os.path.dirname(os.path.realpath(d)) for d in os.environ.get("PATH", "").split(os.pathsep)
        if os.path.isfile(os.path.join(d, "spark-submit"))]
    for home in homes:
        jars = os.path.join(home, "jars")
        if home and os.path.isdir(jars):
            return jars
    raise SystemExit("build: no Spark jars found (set SPARK_HOME)")


def sources():
    files = []
    for base in (ENGINE_SRC, BENCH_SRC):
        files += glob.glob(os.path.join(base, "**", "*.scala"), recursive=True)
    return sorted(files)


def classpath():
    """Runtime classpath: compiled classes, engine resources, Spark jars."""
    return os.pathsep.join([CLASSES, ENGINE_RESOURCES, os.path.join(spark_jars(), "*")])


def stamp(files):
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build():
    if not os.path.isdir(ENGINE_SRC):
        raise SystemExit(f"build: engine sources not found at {ENGINE_SRC}")
    os.makedirs(BUILD_DIR, exist_ok=True)
    files = sources()
    digest = stamp(files)
    stamp_file = os.path.join(CLASSES, ".stamp")
    if os.path.exists(stamp_file) and open(stamp_file).read() == digest:
        return
    jars = spark_jars()

    def jar(prefix):
        found = sorted(glob.glob(os.path.join(jars, prefix + "-2.*.jar")))
        if not found:
            raise SystemExit(f"build: {prefix} jar not found in {jars}")
        return found[-1]

    compiler_cp = os.pathsep.join(jar(p) for p in ("scala-compiler", "scala-library", "scala-reflect"))
    staging = CLASSES + ".tmp"
    shutil.rmtree(staging, ignore_errors=True)
    os.makedirs(staging)
    argfile = os.path.join(BUILD_DIR, "sources.txt")
    with open(argfile, "w") as fh:
        fh.write("\n".join(files) + "\n")
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", f"-Djava.io.tmpdir={BUILD_DIR}",
           "-cp", compiler_cp, "scala.tools.nsc.Main",
           "-nowarn", "-usejavacp", "-classpath", os.path.join(jars, "*"),
           "-d", staging, "@" + argfile]
    print(f"build: compiling {len(files)} Scala files", file=sys.stderr)
    proc = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr)
    if proc.returncode != 0:
        raise SystemExit(f"build: scalac failed with exit code {proc.returncode}")
    with open(os.path.join(staging, ".stamp"), "w") as fh:
        fh.write(digest)
    shutil.rmtree(CLASSES, ignore_errors=True)
    os.rename(staging, CLASSES)


if __name__ == "__main__":
    build()
