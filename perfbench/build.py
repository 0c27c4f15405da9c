#!/usr/bin/env python3
"""Build the benchmark: compile the repository's main Scala sources and
the benchmark's own sources (perfbench/src) with the Scala compiler that
ships in Spark's jars directory.

    python3 perfbench/build.py        # from the repository root

Classes go to .bench_build/perfbench/classes. A stamp of the sources
skips the compile when nothing changed.
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(ROOT, ".bench_build", "perfbench")
CLASSES = os.path.join(OUT, "classes")
MAIN_SRC = os.path.join(ROOT, "src", "main", "scala")


def spark_jars():
    """Spark's jars directory: $SPARK_HOME/jars, else next to spark-submit."""
    cands = []
    if os.environ.get("SPARK_HOME"):
        cands.append(os.path.join(os.environ["SPARK_HOME"], "jars"))
    submit = shutil.which("spark-submit")
    if submit:
        cands.append(os.path.join(os.path.dirname(os.path.dirname(os.path.realpath(submit))), "jars"))
    for c in cands:
        if glob.glob(os.path.join(c, "spark-sql_*.jar")):
            return c
    raise SystemExit("perfbench: Spark jars not found (set SPARK_HOME)")


def sources():
    if not os.path.isfile(os.path.join(MAIN_SRC, "graft", "pipe", "ExtractJob.scala")):
        raise SystemExit("perfbench: no graft sources under %s" % MAIN_SRC)
    files = glob.glob(os.path.join(MAIN_SRC, "**", "*.scala"), recursive=True)
    files += glob.glob(os.path.join(HERE, "src", "**", "*.scala"), recursive=True)
    return sorted(files)


def build():
    """Compile when the sources changed; returns the run classpath."""
    jars = spark_jars()
    cp = os.path.join(jars, "*")
    files = sources()
    h = hashlib.sha256(jars.encode())
    for f in files:
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    stamp = os.path.join(OUT, "stamp")
    if not (os.path.isfile(stamp) and open(stamp).read() == h.hexdigest()):
        shutil.rmtree(CLASSES, ignore_errors=True)
        os.makedirs(CLASSES)
        cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", cp, "scala.tools.nsc.Main",
               "-nowarn", "-d", CLASSES, "-classpath", cp] + files
        r = subprocess.run(cmd, stdout=sys.stderr)
        if r.returncode != 0:
            raise SystemExit("perfbench: compile failed")
        with open(stamp, "w") as fh:
            fh.write(h.hexdigest())
    return os.pathsep.join([CLASSES, HERE, cp])


if __name__ == "__main__":
    build()
