"""Build file of the benchmark: compiles the engine (src/main/scala) and the
harness (perfbench/scala) into one class directory with the Scala compiler
that ships in Spark's jars directory. A stamp of the sources and jars skips
the compile when nothing changed.

Run from the root of a checkout: python3 perfbench/build.py
"""
import glob
import hashlib
import importlib.util
import os
import subprocess
import sys

ROOT = os.getcwd()
BUILD = os.path.join(ROOT, ".bench_build")
SOURCES = ["src/main/scala", "perfbench/scala"]


def spark_jars():
    """The jars of $SPARK_HOME, else of the installed pyspark package (a
    full Spark distribution of its own)."""
    home = os.environ.get("SPARK_HOME")
    if not home and importlib.util.find_spec("pyspark"):
        home = os.path.dirname(importlib.util.find_spec("pyspark").origin)
    jars = sorted(glob.glob(os.path.join(home or "", "jars", "*.jar")))
    if not jars:
        raise SystemExit("perfbench: no Spark jars; set SPARK_HOME")
    return jars


def sources():
    files = []
    for d in SOURCES:
        if not os.path.isdir(os.path.join(ROOT, d)):
            raise SystemExit(f"perfbench: {d} is missing; run from a checkout")
        for dirpath, _, names in os.walk(os.path.join(ROOT, d)):
            files += [os.path.join(dirpath, n) for n in names
                      if n.endswith(".scala")]
    return sorted(files)


def build():
    """Compile if the stamp is stale; returns the runtime classpath."""
    jars = spark_jars()
    srcs = sources()
    h = hashlib.sha256()
    for f in srcs:
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    h.update("\n".join(os.path.basename(j) for j in jars).encode())
    stamp = h.hexdigest()
    classes = os.path.join(BUILD, "classes")
    stamp_file = os.path.join(BUILD, "classes.stamp")
    cp = [classes] + jars
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return cp
    tmp = classes + ".tmp"
    subprocess.run(["rm", "-rf", tmp, classes, stamp_file], check=True)
    os.makedirs(tmp)
    compiler = [j for j in jars if os.path.basename(j).startswith(
        ("scala-compiler-", "scala-library-", "scala-reflect-"))]
    if len(compiler) < 3:
        raise SystemExit("perfbench: the Scala compiler jars are missing")
    argfile = os.path.join(BUILD, "scalac.args")
    with open(argfile, "w") as fh:
        fh.write("\n".join(srcs))
    log = os.path.join(BUILD, "scalac.log")
    with open(log, "w") as out:
        rc = subprocess.run(
            ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g",
             "-cp", ":".join(compiler), "scala.tools.nsc.Main", "-nowarn",
             "-d", tmp, "-classpath", ":".join(jars), "@" + argfile],
            stdout=out, stderr=subprocess.STDOUT).returncode
    if rc != 0:
        sys.stderr.write(open(log).read()[-4000:])
        raise SystemExit(f"perfbench: compile failed (exit {rc})")
    os.rename(tmp, classes)
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    return cp


if __name__ == "__main__":
    os.makedirs(BUILD, exist_ok=True)
    build()
