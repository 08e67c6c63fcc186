#!/usr/bin/env python3
"""Build file of the benchmark: compiles graft's sources (src/main/scala)
together with the benchmark's own (flowbench/src) into flowbench/.build,
with the Scala compiler that ships among Spark's jars. A build is reused
while no input file changed.

    python3 flowbench/build.py        # build if stale, print the classes dir
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(HERE, ".build")
CLASSES = os.path.join(OUT, "classes")
STAMP = os.path.join(OUT, "stamp")


class BuildError(Exception):
    pass


def spark_jars():
    """Spark's jar directory: $SPARK_HOME/jars, else beside spark-submit."""
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = os.path.join(home or "", "jars")
    if not glob.glob(os.path.join(jars, "spark-sql_*.jar")):
        raise BuildError("Spark jars not found: set SPARK_HOME")
    return jars


def java():
    home = os.environ.get("JAVA_HOME")
    exe = os.path.join(home, "bin", "java") if home else shutil.which("java")
    if not exe or not os.path.exists(exe):
        raise BuildError("java not found: set JAVA_HOME")
    return exe


def inputs():
    main = os.path.join(ROOT, "src", "main")
    if not os.path.isdir(os.path.join(main, "scala")):
        raise BuildError(f"no engine sources under {main}")
    scala = sorted(glob.glob(os.path.join(main, "scala", "**", "*.scala"), recursive=True))
    scala += sorted(glob.glob(os.path.join(HERE, "src", "**", "*.scala"), recursive=True))
    resources = os.path.join(main, "resources")
    res = sorted(p for p in glob.glob(os.path.join(resources, "**", "*"), recursive=True)
                 if os.path.isfile(p))
    return scala, resources, res


def stamp_of(files, jars):
    h = hashlib.sha256()
    for p in files:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    h.update("|".join(sorted(os.listdir(jars))).encode())
    return h.hexdigest()


def ensure_built(timeout=600):
    """Compile when stale; return (classes dir, Spark jars dir)."""
    jars = spark_jars()
    scala, resources, res = inputs()
    stamp = stamp_of(scala + res, jars)
    if os.path.isdir(CLASSES) and os.path.exists(STAMP):
        with open(STAMP) as f:
            if f.read() == stamp:
                return CLASSES, jars
    tmp = CLASSES + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    compiler = [p for name in ("scala-compiler", "scala-library", "scala-reflect")
                for p in glob.glob(os.path.join(jars, name + "-2.13.*.jar"))]
    argfile = os.path.join(OUT, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(scala) + "\n")
    cmd = [java(), "-Xss16m", "-Xmx2g", "-cp", os.pathsep.join(compiler),
           "scala.tools.nsc.Main", "-nowarn", "-classpath", os.path.join(jars, "*"),
           "-d", tmp, "@" + argfile]
    try:
        proc = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                              text=True, timeout=timeout)
    except subprocess.TimeoutExpired:
        raise BuildError(f"compile did not finish in {timeout} s")
    if proc.returncode != 0:
        raise BuildError("compile failed:\n" + proc.stdout[-4000:])
    for p in res:
        dst = os.path.join(tmp, os.path.relpath(p, resources))
        os.makedirs(os.path.dirname(dst), exist_ok=True)
        shutil.copyfile(p, dst)
    shutil.rmtree(CLASSES, ignore_errors=True)
    os.rename(tmp, CLASSES)
    with open(STAMP, "w") as f:
        f.write(stamp)
    return CLASSES, jars


if __name__ == "__main__":
    try:
        print(ensure_built()[0])
    except BuildError as e:
        print(f"build: {e}", file=sys.stderr)
        sys.exit(1)
