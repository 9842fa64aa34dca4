"""Build file of the benchmark package: compiles the engine sources
(src/main/scala) together with the benchmark sources (perfbench/src) into
.bench_build/classes with the Scala compiler that ships in Spark's jars.
A stamp of the source contents skips the compile when nothing changed.

Usage: python3 perfbench/build.py   (from the repository root)
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

ROOT = os.getcwd()
BUILD = os.path.join(ROOT, ".bench_build")
CLASSES = os.path.join(BUILD, "classes")
SOURCES = ["src/main/scala", "perfbench/src"]


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home and shutil.which("spark-submit"):
        home = os.path.dirname(os.path.dirname(os.path.realpath(shutil.which("spark-submit"))))
    if not home:
        raise SystemExit("set SPARK_HOME or put spark-submit on PATH")
    jars = sorted(glob.glob(os.path.join(home, "jars", "*.jar")))
    if not any(os.path.basename(j).startswith("scala-compiler") for j in jars):
        raise SystemExit(f"no Spark jars with a Scala compiler under {home}/jars")
    return jars


def sources():
    files = []
    for d in SOURCES:
        if not os.path.isdir(os.path.join(ROOT, d)):
            raise SystemExit(f"missing source directory {d}: run from a full checkout")
        for dirpath, _, names in os.walk(os.path.join(ROOT, d)):
            files += [os.path.join(dirpath, n) for n in names if n.endswith(".scala")]
    return sorted(files)


def build():
    """Compile if the sources changed; return the runtime classpath."""
    jars = spark_jars()
    srcs = sources()
    classpath = os.pathsep.join([CLASSES] + jars)
    h = hashlib.sha256()
    for f in srcs + jars:
        h.update(os.path.relpath(f, ROOT).encode())
        if f.endswith(".scala"):
            with open(f, "rb") as fh:
                h.update(fh.read())
    digest = h.hexdigest()
    stamp = os.path.join(BUILD, "classes.stamp")
    if os.path.exists(stamp):
        with open(stamp) as fh:
            if fh.read() == digest:
                return classpath
    shutil.rmtree(CLASSES, ignore_errors=True)
    os.makedirs(CLASSES)
    argfile = os.path.join(BUILD, "sources.txt")
    with open(argfile, "w") as fh:
        fh.write("\n".join(srcs) + "\n")
    subprocess.run(
        ["java", "-Xss16m", "-Xmx2g", "-XX:-UsePerfData", f"-Djava.io.tmpdir={BUILD}",
         "-cp", os.pathsep.join(jars), "scala.tools.nsc.Main",
         "-usejavacp", "-nowarn", "-d", CLASSES, "@" + argfile],
        check=True, stdout=sys.stderr)
    with open(stamp, "w") as fh:
        fh.write(digest)
    return classpath


if __name__ == "__main__":
    build()
