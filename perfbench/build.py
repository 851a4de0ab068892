#!/usr/bin/env python3
"""Build file of the benchmark: compiles the engine (src/main/scala) and
the harness (perfbench/src) with the Scala compiler that ships in the
Spark jars, with no network and no sbt.

    python3 perfbench/build.py        # prints the run classpath

Classes go to $CARGO_TARGET_DIR/perfbench (default .bench_build/perfbench)
and are rebuilt only when a source file or the toolchain changes.
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
# the same Spark install build.sbt compiles against (its unmanagedBase)
SPARK_JARS = os.path.join(os.environ.get("SPARK_HOME", "/opt/spark"), "jars")
SCALA = "2.13.17"


class BuildError(Exception):
    pass


def build_dir():
    return os.path.join(ROOT, os.environ.get("CARGO_TARGET_DIR", ".bench_build"), "perfbench")


def sources(rel):
    files = sorted(glob.glob(os.path.join(ROOT, rel, "**", "*.scala"), recursive=True))
    if not files:
        raise BuildError(f"no Scala sources under {rel}/")
    return files


def stamp(files):
    h = hashlib.sha256(SCALA.encode())
    h.update("\n".join(sorted(os.listdir(SPARK_JARS))).encode())
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def scalac(files, classpath, out):
    compiler = os.pathsep.join(os.path.join(SPARK_JARS, f"scala-{m}-{SCALA}.jar")
                               for m in ("compiler", "library", "reflect"))
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    cmd = ["java", "-Xmx2g", "-Xss8m", "-XX:-UsePerfData", "-cp", compiler, "scala.tools.nsc.Main",
           "-usejavacp", "-nowarn", "-cp", classpath, "-d", tmp] + files
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        raise BuildError("scalac failed:\n" + r.stdout[-4000:])
    shutil.rmtree(out, ignore_errors=True)
    os.rename(tmp, out)


def build():
    """Compile what changed; return the classpath to run the harness."""
    if not os.path.isdir(SPARK_JARS):
        raise BuildError(f"Spark jars not found at {SPARK_JARS}")
    out = build_dir()
    os.makedirs(out, exist_ok=True)
    spark_cp = os.path.join(SPARK_JARS, "*")
    engine_src = sources("src/main/scala")
    harness_src = sources("perfbench/src")
    engine, harness = os.path.join(out, "engine"), os.path.join(out, "harness")
    want = stamp(engine_src) + stamp(harness_src)
    stamp_file = os.path.join(out, "stamp")
    have = open(stamp_file).read() if os.path.exists(stamp_file) else ""
    if have[:64] != want[:64] or not os.path.isdir(engine):
        scalac(engine_src, spark_cp, engine)
    if have != want or not os.path.isdir(harness):
        scalac(harness_src, os.pathsep.join([engine, spark_cp]), harness)
    with open(stamp_file, "w") as fh:
        fh.write(want)
    return os.pathsep.join([harness, engine, spark_cp])


if __name__ == "__main__":
    try:
        print(build())
    except BuildError as e:
        print(e, file=sys.stderr)
        sys.exit(2)
