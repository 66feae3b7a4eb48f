#!/usr/bin/env python3
"""Build file of the benchmark: compiles the program and the benchmark's JVM half.

The program's sources (src/main/scala of the repository that holds this
directory) and the benchmark's own sources (perfbench/scala) are compiled
together with the Scala 2.13.17 compiler that ships in the Spark
distribution's jar directory, into .bench_build/classes. A stamp of every
source file's content skips the compile when nothing changed.

    python3 perfbench/build.py          # prints the classes directory
"""
import hashlib
import os
import re
import subprocess
import sys

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)
BUILD_DIR = os.path.join(ROOT, ".bench_build")
CLASSES = os.path.join(BUILD_DIR, "classes")
PROGRAM_SRC = os.path.join(ROOT, "src", "main", "scala")
BENCH_SRC = os.path.join(BENCH_DIR, "scala")


def spark_jars():
    """$SPARK_HOME/jars, else the jar directory the repository's build.sbt
    declares as its unmanagedBase."""
    if "SPARK_HOME" in os.environ:
        jars = os.path.join(os.environ["SPARK_HOME"], "jars")
    else:
        with open(os.path.join(ROOT, "build.sbt")) as f:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
        if not m:
            raise SystemExit("build: set SPARK_HOME (build.sbt declares no unmanagedBase)")
        jars = m.group(1)
    if not os.path.isfile(os.path.join(jars, "scala-compiler-2.13.17.jar")):
        raise SystemExit(f"build: no Scala 2.13.17 compiler in {jars}")
    return jars


def sources():
    if not os.path.isdir(PROGRAM_SRC):
        raise SystemExit(f"build: program sources not found at {PROGRAM_SRC}")
    found = []
    for top in (PROGRAM_SRC, BENCH_SRC):
        for d, _, files in os.walk(top):
            found += [os.path.join(d, f) for f in files if f.endswith(".scala")]
    return sorted(found)


def build():
    """Compile if the sources changed; return the classes directory."""
    srcs = sources()
    h = hashlib.sha256()
    for s in srcs:
        h.update(s.encode())
        with open(s, "rb") as f:
            h.update(f.read())
    stamp = h.hexdigest()
    stamp_file = os.path.join(BUILD_DIR, "classes.stamp")
    if os.path.isfile(stamp_file) and open(stamp_file).read() == stamp:
        return CLASSES
    if os.path.isdir(CLASSES):
        subprocess.run(["rm", "-rf", CLASSES], check=True)
    os.makedirs(CLASSES)
    jars = spark_jars()
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={BUILD_DIR}",
           "-cp", os.path.join(jars, "*"), "scala.tools.nsc.Main",
           # an explicit -classpath: scalac's default "." would turn the
           # checkout's directories into packages (perfbench/scala -> perfbench.scala)
           "-usejavacp", "-classpath", CLASSES, "-nowarn", "-d", CLASSES] + srcs
    r = subprocess.run(cmd, capture_output=True, text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-4000:] + r.stderr[-4000:])
        raise SystemExit("build: compile failed")
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return CLASSES


if __name__ == "__main__":
    print(build())
