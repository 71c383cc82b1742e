"""Build file of the benchmark package.

Compiles the program's sources (``src/main/scala``) together with the
benchmark's own sources (``perfbench/src``) with the Scala compiler that
ships in the Spark distribution, into ``.bench_build/classes`` at the root
of the checkout. A hash of every input file is stamped next to the classes,
so an unchanged tree is not compiled twice.

    python3 perfbench/build.py          # build (or confirm up to date)
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
BUILD = os.path.join(ROOT, ".bench_build")
CLASSES = os.path.join(BUILD, "classes")
STAMP = os.path.join(BUILD, "classes.stamp")
PROGRAM_SRC = os.path.join(ROOT, "src", "main", "scala")
PROGRAM_RES = os.path.join(ROOT, "src", "main", "resources")
BENCH_SRC = os.path.join(ROOT, "perfbench", "src")
SPARK_JARS = os.environ.get("SPARK_JARS_DIR", "/opt/spark/jars")


def spark_jars():
    jars = sorted(glob.glob(os.path.join(SPARK_JARS, "*.jar")))
    if not jars:
        raise SystemExit("no Spark jars under %s (set SPARK_JARS_DIR)" % SPARK_JARS)
    return jars


def sources():
    if not os.path.isdir(os.path.join(PROGRAM_SRC, "graft")):
        raise SystemExit("program sources not found under %s" % PROGRAM_SRC)
    files = []
    for base in (PROGRAM_SRC, BENCH_SRC):
        files += sorted(glob.glob(os.path.join(base, "**", "*.scala"), recursive=True))
    return files


def runtime_classpath():
    return os.pathsep.join([CLASSES, PROGRAM_RES] + spark_jars())


def _digest(files):
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build():
    files = sources()
    jars = spark_jars()
    os.makedirs(BUILD, exist_ok=True)
    digest = _digest(files)
    if os.path.isdir(CLASSES) and os.path.isfile(STAMP):
        with open(STAMP) as fh:
            if fh.read().strip() == digest:
                return
    tmp = CLASSES + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    compiler = [j for j in jars if os.path.basename(j).startswith(
        ("scala-compiler-", "scala-library-", "scala-reflect-"))]
    argfile = os.path.join(BUILD, "sources.txt")
    with open(argfile, "w") as fh:
        fh.write("\n".join(files))
    cmd = ["java", "-Xmx2g", "-Xss16m", "-XX:-UsePerfData",
           "-cp", os.pathsep.join(compiler), "scala.tools.nsc.Main",
           "-nowarn", "-d", tmp, "-classpath", os.pathsep.join(jars),
           "@" + argfile]
    rc = subprocess.call(cmd, stdout=sys.stderr)
    if rc != 0:
        raise SystemExit("scalac failed with exit code %d" % rc)
    shutil.rmtree(CLASSES, ignore_errors=True)
    os.rename(tmp, CLASSES)
    with open(STAMP, "w") as fh:
        fh.write(digest)


if __name__ == "__main__":
    build()
