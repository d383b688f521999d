#!/usr/bin/env python3
"""Build file of the benchmark: compiles the repo's Scala sources
(src/main/scala) together with the benchmark's own (perfbench/src) into
.bench_build/classes with the Scala compiler that ships with Spark.

Usage, from the repo root:  python3 perfbench/build.py
A build is skipped when a stamp of every source file's content matches.
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def spark_jars():
    """The jars of the Spark install: $SPARK_HOME, else the first
    spark-submit on PATH whose install ships a Scala compiler."""
    homes = [os.environ["SPARK_HOME"]] if os.environ.get("SPARK_HOME") else [
        os.path.dirname(os.path.dirname(os.path.realpath(os.path.join(d, "spark-submit"))))
        for d in os.environ.get("PATH", "").split(os.pathsep)
        if os.path.isfile(os.path.join(d, "spark-submit"))]
    for home in homes:
        jars = os.path.join(home, "jars")
        if glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
            return os.path.join(jars, "*")
    raise SystemExit("perfbench: no Spark install with a Scala compiler found (set SPARK_HOME)")


def sources(root):
    repo = os.path.join(root, "src", "main", "scala")
    if not os.path.isdir(os.path.join(repo, "graft")):
        raise SystemExit(f"perfbench: {repo}/graft not found; run from the repo root")
    files = glob.glob(os.path.join(repo, "**", "*.scala"), recursive=True)
    files += glob.glob(os.path.join(HERE, "src", "**", "*.scala"), recursive=True)
    return sorted(files)


def build(root):
    """Compile if needed; return the classpath to run with."""
    jars = spark_jars()
    files = sources(root)
    digest = hashlib.sha256()
    for f in files:
        digest.update(os.path.relpath(f, root).encode())
        with open(f, "rb") as fh:
            digest.update(fh.read())
    out = os.path.join(root, ".bench_build")
    classes = os.path.join(out, "classes")
    stamp = os.path.join(out, "stamp")
    if not (os.path.exists(stamp) and open(stamp).read() == digest.hexdigest()):
        shutil.rmtree(classes, ignore_errors=True)
        os.makedirs(classes)
        cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", jars, "scala.tools.nsc.Main",
               "-nowarn", "-classpath", jars, "-d", classes] + files
        r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
        if r.returncode != 0:
            sys.stderr.write(r.stdout[-4000:])
            raise SystemExit("perfbench: compile failed")
        with open(stamp, "w") as fh:
            fh.write(digest.hexdigest())
    return classes + os.pathsep + jars


if __name__ == "__main__":
    print(build(os.getcwd()))
