#!/usr/bin/env python3
"""Build file of the benchmark package: compiles graft's sources
(`src/main/scala`) together with the benchmark harness
(`perfbench/src`) into one class directory under `.bench_build/`.

It calls the Scala compiler that ships in Spark's `jars/` directory
(located through `$SPARK_HOME`, or else the `spark-submit` on `PATH`),
so a build needs no network, no sbt and nothing outside the checkout
but the JDK and Spark. A stamp over every source file skips the build
when nothing changed.

Usage: python3 perfbench/build.py   (from the root of a checkout)
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(ROOT, ".bench_build", "graftbench")
CLASSES = os.path.join(OUT, "classes")


class BuildError(Exception):
    pass


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = os.path.join(home or "", "jars")
    if not home or not glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
        raise BuildError("no Spark installation with a Scala compiler found "
                         "(set SPARK_HOME)")
    return jars


def sources():
    main = os.path.join(ROOT, "src", "main", "scala")
    if not os.path.isdir(main):
        raise BuildError(f"graft sources not found under {main}")
    files = []
    for base in (main, os.path.join(HERE, "src")):
        files += glob.glob(os.path.join(base, "**", "*.scala"), recursive=True)
    return sorted(files)


def stamp(files):
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build():
    """Compile if needed; return (classpath, source stamp)."""
    jars = spark_jars()
    files = sources()
    digest = stamp(files)
    cp = CLASSES + os.pathsep + os.path.join(jars, "*")
    stamp_file = os.path.join(OUT, "stamp")
    if os.path.exists(stamp_file) and open(stamp_file).read() == digest:
        return cp, digest
    shutil.rmtree(CLASSES, ignore_errors=True)
    os.makedirs(CLASSES)
    argfile = os.path.join(OUT, "sources.txt")
    with open(argfile, "w") as fh:
        fh.write("\n".join(files) + "\n")
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", os.path.join(jars, "*"),
           "scala.tools.nsc.Main", "-nowarn", "-d", CLASSES,
           "-classpath", os.path.join(jars, "*"), "@" + argfile]
    try:
        proc = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                              text=True, timeout=800)
    except subprocess.TimeoutExpired:
        raise BuildError("scalac did not finish within 800 s")
    if proc.returncode != 0:
        raise BuildError("scalac failed:\n" + proc.stdout[-4000:])
    with open(stamp_file, "w") as fh:
        fh.write(digest)
    return cp, digest


if __name__ == "__main__":
    try:
        cp, digest = build()
    except BuildError as e:
        print(e, file=sys.stderr)
        sys.exit(2)
    print(f"built {digest[:12]} -> {CLASSES}")
