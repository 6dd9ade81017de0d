"""Build file of the benchmark.

Compiles the program's sources (``src/main/scala``) together with the
benchmark's own Scala sources (``perfbench/src``) with the Scala compiler that
ships among Spark's jars, into ``.bench_build/classes``. A stamp of the source
contents skips the build when nothing changed.

Run from the repository root:  python3 perfbench/build.py
"""

import hashlib
import os
import shutil
import subprocess
import sys

BUILD = ".bench_build"
CLASSES = os.path.join(BUILD, "classes")
SOURCE_DIRS = [os.path.join("src", "main", "scala"), os.path.join("perfbench", "src")]


def spark_home():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if not submit:
            raise SystemExit("build: spark-submit not on PATH and SPARK_HOME unset")
        home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    return home


def spark_classpath():
    return os.path.join(spark_home(), "jars", "*")


def sources():
    found = []
    for d in SOURCE_DIRS:
        for dirpath, _, files in os.walk(d):
            found += [os.path.join(dirpath, f) for f in files if f.endswith(".scala")]
    return sorted(found)


def stamp(srcs):
    h = hashlib.sha256()
    for p in srcs + [__file__]:
        h.update(p.encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def build(log=sys.stderr):
    """Compiles if needed; returns the classes directory."""
    if not os.path.isdir(SOURCE_DIRS[0]):
        raise SystemExit(f"build: no program sources at {SOURCE_DIRS[0]}; "
                         "run from the repository root")
    srcs = sources()
    want = stamp(srcs)
    stamp_file = os.path.join(BUILD, "build.stamp")
    if os.path.exists(stamp_file) and os.path.isdir(CLASSES):
        with open(stamp_file) as f:
            if f.read().strip() == want:
                return CLASSES
    os.makedirs(BUILD, exist_ok=True)
    tmp = CLASSES + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    print(f"build: compiling {len(srcs)} Scala sources", file=log, flush=True)
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", spark_classpath(),
           "scala.tools.nsc.Main", "-usejavacp", "-nowarn", "-d", tmp] + srcs
    r = subprocess.run(cmd, stdout=log, stderr=log)
    if r.returncode != 0:
        raise SystemExit(f"build: scalac failed with exit code {r.returncode}")
    shutil.rmtree(CLASSES, ignore_errors=True)
    os.rename(tmp, CLASSES)
    with open(stamp_file, "w") as f:
        f.write(want)
    return CLASSES


if __name__ == "__main__":
    build()
