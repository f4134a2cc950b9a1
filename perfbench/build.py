#!/usr/bin/env python3
"""Build file of the benchmark harness.

Compiles the program's main sources (src/main/scala) together with the
harness sources (perfbench/src) with the Scala compiler that ships in the
Spark distribution, into <build dir>/classes. Rebuilds only when a source
file changed. Run from the repository root:

    python3 perfbench/build.py
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
MAIN_SRC = os.path.join(ROOT, "src", "main", "scala")
RESOURCES = os.path.join(ROOT, "src", "main", "resources")
HARNESS_SRC = os.path.join(ROOT, "perfbench", "src")


def build_dir():
    d = os.environ.get("CARGO_TARGET_DIR", ".bench_build")
    return d if os.path.isabs(d) else os.path.join(ROOT, d)


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = os.path.join(home or "", "jars")
    if not os.path.isdir(jars):
        sys.exit("perfbench: no Spark distribution (set SPARK_HOME)")
    return jars


def sources():
    if not os.path.isdir(MAIN_SRC):
        sys.exit("perfbench: no program sources under src/main/scala")
    files = sorted(glob.glob(os.path.join(MAIN_SRC, "**", "*.scala"), recursive=True) +
                   glob.glob(os.path.join(HARNESS_SRC, "**", "*.scala"), recursive=True))
    if not files:
        sys.exit("perfbench: no sources to build")
    return files


def classpath():
    """Runtime classpath: compiled classes, program resources, Spark jars."""
    return os.pathsep.join([os.path.join(build_dir(), "classes"), RESOURCES,
                            os.path.join(spark_jars(), "*")])


def build():
    files = sources()
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    stamp = h.hexdigest()
    out = os.path.join(build_dir(), "classes")
    stamp_file = os.path.join(build_dir(), "classes.stamp")
    if os.path.isdir(out) and os.path.exists(stamp_file):
        with open(stamp_file) as fh:
            if fh.read() == stamp:
                return
    jars = spark_jars()
    compiler = [jar for p in ("compiler", "library", "reflect")
                for jar in glob.glob(os.path.join(jars, f"scala-{p}-2.13.*.jar"))]
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData",
           "-cp", os.pathsep.join(compiler), "scala.tools.nsc.Main", "-nowarn",
           "-cp", os.path.join(jars, "*"), "-d", tmp] + files
    if subprocess.run(cmd, cwd=ROOT, stdout=sys.stderr).returncode != 0:
        sys.exit("perfbench: compilation failed")
    shutil.rmtree(out, ignore_errors=True)
    os.rename(tmp, out)
    with open(stamp_file, "w") as fh:
        fh.write(stamp)


if __name__ == "__main__":
    build()
