#!/usr/bin/env python3
"""Build the benchmark: compile the engine (src/main/scala) together with
the benchmark program (perfbench/src) into .bench_build/classes, using the
Scala compiler and the Spark jars of the installation at $SPARK_HOME.

    python3 perfbench/build.py        # prints the classes directory

A content stamp of every source skips the compile when nothing changed.
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD_DIR = os.path.join(ROOT, ".bench_build")


class BuildError(Exception):
    pass


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home or not os.path.isdir(os.path.join(home, "jars")):
        raise BuildError("SPARK_HOME must name a Spark installation with a jars/ directory")
    return os.path.join(home, "jars")


def java():
    home = os.environ.get("JAVA_HOME")
    exe = os.path.join(home, "bin", "java") if home else None
    return exe if exe and os.path.exists(exe) else "java"


def sources():
    engine = os.path.join(ROOT, "src", "main", "scala")
    if not os.path.isdir(engine):
        raise BuildError("engine sources not found: run from a checkout that has src/main/scala")
    found = sorted(glob.glob(os.path.join(engine, "**", "*.scala"), recursive=True))
    found += sorted(glob.glob(os.path.join(HERE, "src", "**", "*.scala"), recursive=True))
    return found


def build():
    """Compile if the sources changed; return the classes directory."""
    jars = spark_jars()
    srcs = sources()
    compiler = [j for pat in ("scala-compiler-*.jar", "scala-library-*.jar", "scala-reflect-*.jar")
                for j in glob.glob(os.path.join(jars, pat))]
    if len(compiler) != 3:
        raise BuildError(f"no Scala compiler in {jars}")
    digest = hashlib.sha256()
    for path in srcs + sorted(compiler):
        digest.update(os.path.relpath(path, ROOT).encode())
        if path.endswith(".scala"):
            with open(path, "rb") as f:
                digest.update(f.read())
    stamp = digest.hexdigest()
    classes = os.path.join(BUILD_DIR, "classes")
    stamp_file = os.path.join(BUILD_DIR, "classes.stamp")
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return classes
    shutil.rmtree(classes, ignore_errors=True)
    os.makedirs(classes)
    argfile = os.path.join(BUILD_DIR, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(srcs) + "\n")
    classpath = os.pathsep.join(sorted(glob.glob(os.path.join(jars, "*.jar"))))
    cmd = [java(), "-Xss8m", "-Xmx2g", "-cp", os.pathsep.join(sorted(compiler)),
           "scala.tools.nsc.Main", "-nowarn", "-usejavacp", "-classpath", classpath,
           "-d", classes, "@" + argfile]
    done = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if done.returncode != 0:
        raise BuildError("scalac failed:\n" + done.stdout[-4000:])
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return classes


if __name__ == "__main__":
    try:
        print(build())
    except BuildError as e:
        print(f"build: {e}", file=sys.stderr)
        sys.exit(2)
