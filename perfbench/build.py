#!/usr/bin/env python3
"""Builds the program and the benchmark harness from source.

The program (src/main/scala) and the harness (perfbench/harness) are compiled
with the Scala compiler that ships in Spark's jar directory, against Spark's
jars, into .bench_build/classes. A stamp of every input skips the build when
nothing changed.

    python3 perfbench/build.py        # prints the two class directories
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
BUILD = os.path.join(ROOT, ".bench_build")


class BuildError(Exception):
    pass


def spark_jars():
    """$SPARK_HOME/jars, else the jars of the first Spark install whose
    spark-submit is on PATH."""
    homes = [os.environ.get("SPARK_HOME", "")] + [
        os.path.dirname(os.path.dirname(os.path.realpath(os.path.join(d, "spark-submit"))))
        for d in os.environ.get("PATH", "").split(os.pathsep)
        if os.path.isfile(os.path.join(d, "spark-submit"))]
    for home in homes:
        jars = os.path.join(home, "jars")
        if home and glob.glob(os.path.join(jars, "spark-sql_*.jar")):
            return jars
    raise BuildError("no Spark jars found: set SPARK_HOME")


def java_bin():
    home = os.environ.get("JAVA_HOME")
    return os.path.join(home, "bin", "java") if home else "java"


def sources(*dirs):
    out = []
    for d in dirs:
        out += glob.glob(os.path.join(ROOT, d, "**", "*.scala"), recursive=True)
    return sorted(out)


def stamp(files, extra):
    h = hashlib.sha256(extra.encode())
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def scalac(srcs, out, classpath, log):
    os.makedirs(out, exist_ok=True)
    argfile = out + ".sources"
    with open(argfile, "w") as f:
        f.write("\n".join(srcs))
    cmd = [java_bin(), "-Xss8m", "-Xmx2g", "-cp", os.path.join(spark_jars(), "*"),
           "scala.tools.nsc.Main", "-usejavacp", "-nowarn", "-d", out]
    if classpath:
        cmd += ["-classpath", classpath]
    r = subprocess.run(cmd + ["@" + argfile], stdout=log, stderr=subprocess.STDOUT)
    if r.returncode != 0:
        raise BuildError(f"scalac failed for {out} (see {log.name})")


def fresh(out, key, compile_fn):
    """Compiles into `out` unless its stamp matches `key`."""
    stamp_file = out + ".stamp"
    if os.path.exists(stamp_file) and open(stamp_file).read() == key:
        return
    shutil.rmtree(out, ignore_errors=True)
    if os.path.exists(stamp_file):
        os.remove(stamp_file)
    compile_fn()
    with open(stamp_file, "w") as f:
        f.write(key)


def build():
    """Returns (program classpath, harness class dir), building when stale."""
    prog_src = sources("src/main/scala")
    if not prog_src or not os.path.isdir(os.path.join(ROOT, "src", "main", "resources")):
        raise BuildError("program sources not found under src/main (run from a checkout)")
    harness_src = sources("perfbench/harness")
    resources = os.path.join(ROOT, "src", "main", "resources")
    jars = spark_jars()
    toolchain = "\n".join(sorted(os.listdir(jars))) + java_bin()
    prog_out = os.path.join(BUILD, "classes", "program")
    harness_out = os.path.join(BUILD, "classes", "harness")
    program_cp = os.pathsep.join([prog_out, resources, os.path.join(jars, "*")])
    os.makedirs(os.path.join(BUILD, "logs"), exist_ok=True)
    prog_key = stamp(prog_src, toolchain)
    harness_key = stamp(harness_src, prog_key)
    with open(os.path.join(BUILD, "logs", "build.log"), "a") as log:
        fresh(prog_out, prog_key, lambda: scalac(prog_src, prog_out, "", log))
        fresh(harness_out, harness_key, lambda: scalac(harness_src, harness_out, prog_out, log))
    return program_cp, harness_out


if __name__ == "__main__":
    try:
        print("\n".join(build()))
    except BuildError as e:
        print(f"build: {e}", file=sys.stderr)
        sys.exit(2)
