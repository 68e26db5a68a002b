#!/usr/bin/env python3
"""Build file of the benchmark.

Compiles the program (src/main/scala) together with the benchmark
(perfbench/scala) into <target>/classes, using the Scala compiler that ships
in the Spark distribution's jars. <target> is $CARGO_TARGET_DIR, or
.bench_build, under the repository root. A stamp of every source file's
contents skips the compile when nothing changed.

Usage, from the repository root:  python3 perfbench/build.py
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


class BuildError(Exception):
    pass


def target_dir():
    return os.path.join(ROOT, os.environ.get("CARGO_TARGET_DIR") or ".bench_build")


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home and shutil.which("spark-submit"):
        home = os.path.dirname(os.path.dirname(os.path.realpath(shutil.which("spark-submit"))))
    if not home or not os.path.isdir(os.path.join(home, "jars")):
        raise BuildError("no Spark distribution found: set SPARK_HOME")
    return os.path.join(home, "jars")


def java():
    home = os.environ.get("JAVA_HOME")
    exe = os.path.join(home, "bin", "java") if home else shutil.which("java")
    if not exe or not os.path.exists(exe):
        raise BuildError("no java found: set JAVA_HOME")
    return exe


def sources():
    main = sorted(glob.glob(os.path.join(ROOT, "src/main/scala/**/*.scala"), recursive=True))
    bench = sorted(glob.glob(os.path.join(ROOT, "perfbench/scala/**/*.scala"), recursive=True))
    if not main:
        raise BuildError("program sources not found under src/main/scala")
    return main + bench


def _stamp(files, jars):
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    h.update("\n".join(sorted(os.listdir(jars))).encode())
    return h.hexdigest()


def build():
    """Compile if stale; return the runtime classpath."""
    jars = spark_jars()
    files = sources()
    out = os.path.join(target_dir(), "classes")
    stamp_file = out + ".stamp"
    stamp = _stamp(files, jars)
    fresh = False
    if os.path.exists(stamp_file):
        with open(stamp_file) as fh:
            fresh = fh.read() == stamp
    if not fresh:
        shutil.rmtree(out, ignore_errors=True)
        os.makedirs(out)
        compiler = os.pathsep.join(sorted(glob.glob(os.path.join(jars, "scala-*.jar"))))
        cmd = [java(), "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", compiler, "scala.tools.nsc.Main", "-nowarn",
               "-d", out, "-classpath", os.path.join(jars, "*")] + files
        # compiler chatter goes to stderr: stdout carries the benchmark's result
        r = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr)
        if r.returncode != 0:
            raise BuildError("compile failed (exit %d)" % r.returncode)
        with open(stamp_file, "w") as fh:
            fh.write(stamp)
    return os.pathsep.join([out, os.path.join(ROOT, "src/main/resources"), os.path.join(jars, "*")])


if __name__ == "__main__":
    try:
        print(build())
    except BuildError as e:
        print("build: %s" % e, file=sys.stderr)
        sys.exit(2)
