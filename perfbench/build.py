#!/usr/bin/env python3
"""Build file of the benchmark: compiles the library sources (src/main) and
the benchmark sources (perfbench/src) with the Scala compiler that ships in
the Spark distribution ($SPARK_HOME/jars), into .bench_build/classes.

Usage: python3 perfbench/build.py   (from the repository root)
Rebuilds only when a source file changed; exits non-zero when a source
tree is missing or the compiler fails."""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

BUILD = ".bench_build"
CLASSES = os.path.join(BUILD, "classes")
STAMP = os.path.join(BUILD, "classes.stamp")
SOURCE_DIRS = ["src/main/scala", "perfbench/src"]
RESOURCES = "src/main/resources"


def spark_jars():
    home = os.environ.get("SPARK_HOME", "")
    jars = os.path.join(home, "jars")
    if not home or not glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
        sys.exit("build: SPARK_HOME/jars with the Scala compiler is required")
    return os.path.join(jars, "*")


def sources():
    files = []
    for d in SOURCE_DIRS:
        found = sorted(glob.glob(os.path.join(d, "**", "*.scala"), recursive=True))
        if not found:
            sys.exit(f"build: no Scala sources under {d}")
        files += found
    return files


def digest(files):
    h = hashlib.sha256()
    for f in files + sorted(glob.glob(os.path.join(RESOURCES, "**", "*"), recursive=True)):
        if os.path.isfile(f):
            h.update(f.encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def build():
    cp = spark_jars()
    files = sources()
    stamp = digest(files)
    if os.path.exists(STAMP) and open(STAMP).read() == stamp:
        return CLASSES
    shutil.rmtree(CLASSES, ignore_errors=True)
    os.makedirs(CLASSES)
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", cp, "scala.tools.nsc.Main",
           "-usejavacp", "-nowarn", "-d", CLASSES] + files
    if subprocess.run(cmd).returncode != 0:
        sys.exit("build: compilation failed")
    if os.path.isdir(RESOURCES):
        shutil.copytree(RESOURCES, CLASSES, dirs_exist_ok=True)
    with open(STAMP, "w") as fh:
        fh.write(stamp)
    return CLASSES


if __name__ == "__main__":
    print(build())
