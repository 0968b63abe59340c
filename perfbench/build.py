#!/usr/bin/env python3
"""Build file of the benchmark: compiles the engine's sources and the
benchmark's own Scala sources into one class directory with the Scala
compiler that ships in Spark's jar directory. The build is skipped when
a stamp over every source file's content is unchanged.

Usage: build.py [out_dir]   (default: .bench_build/classes under the repo)
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys


def fail(msg):
    print(f"build: {msg}", file=sys.stderr)
    sys.exit(2)

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
ENGINE_SRC = os.path.join(REPO, "src", "main", "scala")
ENGINE_RES = os.path.join(REPO, "src", "main", "resources")
BENCH_SRC = os.path.join(HERE, "src")


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = os.path.join(home or "", "jars")
    if not home or not glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
        fail("no Spark distribution found (set SPARK_HOME)")
    return jars


def sources():
    if not os.path.isdir(ENGINE_SRC):
        fail(f"engine sources missing at {os.path.relpath(ENGINE_SRC)}")
    out = []
    for base in (ENGINE_SRC, BENCH_SRC):
        for d, _, files in os.walk(base):
            out += [os.path.join(d, f) for f in files if f.endswith(".scala")]
    return sorted(out)


def stamp(files):
    h = hashlib.sha256()
    for f in files + [os.path.abspath(__file__)]:
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def classpath(classes):
    return os.pathsep.join([classes, ENGINE_RES, os.path.join(spark_jars(), "*")])


def build(classes):
    files = sources()
    key = stamp(files)
    mark = classes + ".stamp"
    if os.path.isdir(classes) and os.path.isfile(mark) and open(mark).read() == key:
        return classes
    tmp = classes + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    jars = os.path.join(spark_jars(), "*")
    argfile = tmp + ".args"
    with open(argfile, "w") as fh:
        fh.write("\n".join(files) + "\n")
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", jars, "scala.tools.nsc.Main",
           "-nowarn", "-d", tmp, "-cp", jars, "@" + argfile]
    res = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr)
    os.remove(argfile)
    if res.returncode != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        fail(f"scalac failed ({res.returncode})")
    shutil.rmtree(classes, ignore_errors=True)
    os.rename(tmp, classes)
    with open(mark, "w") as fh:
        fh.write(key)
    return classes


if __name__ == "__main__":
    out = sys.argv[1] if len(sys.argv) > 1 else os.path.join(REPO, ".bench_build", "classes")
    print(build(out))
