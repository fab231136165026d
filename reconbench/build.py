#!/usr/bin/env python3
"""Build file of the reconciliation-stream benchmark.

Compiles the program (`src/main/scala` of the checkout) and the benchmark
(`reconbench/src`) with the Scala compiler that ships among the Spark jars,
into `.bench_build/reconbench/` at the checkout root. Each stage is skipped
when a hash of its inputs matches the stamp left by the last build.

    python3 reconbench/build.py          # build, print the run classpath
"""
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(ROOT, ".bench_build", "reconbench")
PROGRAM_SRC = os.path.join(ROOT, "src", "main", "scala")
BENCH_SRC = os.path.join(HERE, "src")


def build_setting(pattern):
    """A value the program's build.sbt sets, by regex; None when absent."""
    with open(os.path.join(ROOT, "build.sbt")) as fh:
        m = re.search(pattern, fh.read())
    return m.group(1) if m else None


def spark_jars(scala):
    """The Spark jars the program builds against: the `unmanagedBase` its
    build.sbt names, else $SPARK_HOME/jars."""
    jars = build_setting(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)')
    if jars is None and os.environ.get("SPARK_HOME"):
        jars = os.path.join(os.environ["SPARK_HOME"], "jars")
    if jars is None or not os.path.isfile(os.path.join(jars, f"scala-compiler-{scala}.jar")):
        raise SystemExit(f"reconbench: no Spark jars with the Scala {scala} compiler (under {jars})")
    return jars


def sources(d):
    fs = sorted(glob.glob(os.path.join(d, "**", "*.scala"), recursive=True))
    if not fs:
        raise SystemExit(f"reconbench: no Scala sources under {d}")
    return fs


def digest(files, extra=""):
    h = hashlib.sha256(extra.encode())
    for f in files:
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def scalac(scala, jars, classpath, dest, files):
    tmp = dest + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    compiler = os.pathsep.join(
        os.path.join(jars, f"scala-{m}-{scala}.jar")
        for m in ("compiler", "library", "reflect"))
    cmd = ["java", "-Xss8m", "-Xmx2g", f"-Djava.io.tmpdir={tmp}",
           "-cp", compiler, "scala.tools.nsc.Main",
           "-nowarn", "-usejavacp:false", "-classpath", classpath, "-d", tmp] + files
    r = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr)
    if r.returncode != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        raise SystemExit(f"reconbench: scalac failed ({r.returncode}) for {dest}")
    shutil.rmtree(dest, ignore_errors=True)
    os.rename(tmp, dest)


def stage(name, scala, jars, classpath, files, key):
    dest = os.path.join(OUT, name)
    stamp = dest + ".stamp"
    if os.path.isdir(dest) and os.path.isfile(stamp) and open(stamp).read() == key:
        return dest
    print(f"reconbench: compiling {name} ({len(files)} files)", file=sys.stderr)
    scalac(scala, jars, classpath, dest, files)
    with open(stamp, "w") as fh:
        fh.write(key)
    return dest


def build():
    """Compile what is stale; return the classpath that runs the benchmark."""
    scala = build_setting(r'scalaVersion\s*:=\s*"([^"]+)"')
    jars = spark_jars(scala)
    os.makedirs(OUT, exist_ok=True)
    spark_cp = os.path.join(jars, "*")
    prog_files = sources(PROGRAM_SRC)
    prog_key = digest(prog_files, scala)
    program = stage("program", scala, jars, spark_cp, prog_files, prog_key)
    bench_files = sources(BENCH_SRC)
    bench = stage("bench", scala, jars, os.pathsep.join([program, spark_cp]), bench_files,
                  digest(bench_files, prog_key))
    return os.pathsep.join([bench, program, spark_cp])


if __name__ == "__main__":
    print(build())
