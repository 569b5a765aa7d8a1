#!/usr/bin/env python3
"""Build file of the benchmark package.

Compiles the program (`src/main/scala`) together with the benchmark's own
harness (`perfbench/scala`) with the Scala compiler that ships in the
Spark distribution (the jars the sbt build compiles against), into
`.bench_build/classes` of the checkout. A stamp
of every source file's content skips the compile when nothing changed.

    python3 perfbench/build.py        # prints the classes directory
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
BUILD = os.path.join(ROOT, ".bench_build")
CLASSES = os.path.join(BUILD, "classes")
STAMP = os.path.join(BUILD, "classes.stamp")


def spark_jars():
    """`$SPARK_HOME/jars`, else the jar directory the sbt build names
    (`unmanagedBase` in build.sbt)."""
    if "SPARK_HOME" in os.environ:
        jar_dir = os.path.join(os.environ["SPARK_HOME"], "jars")
    else:
        jar_dir = None
        sbt = os.path.join(ROOT, "build.sbt")
        if os.path.exists(sbt):
            with open(sbt) as fh:
                m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', fh.read())
            jar_dir = m and m.group(1)
        if not jar_dir:
            raise SystemExit("set SPARK_HOME: build.sbt names no Spark jar directory")
    jars = sorted(glob.glob(os.path.join(jar_dir, "*.jar")))
    if not jars:
        raise SystemExit(f"no Spark jars under {jar_dir}")
    return jars


def sources():
    main = os.path.join(ROOT, "src", "main", "scala")
    found = sorted(glob.glob(os.path.join(main, "**", "*.scala"), recursive=True))
    if not found:
        raise SystemExit(f"no program sources under {main}")
    return found + sorted(glob.glob(os.path.join(HERE, "scala", "*.scala")))


def stamp_of(files):
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build():
    """Compile if stale; return the classpath (classes dir + Spark jars)."""
    jars = spark_jars()
    srcs = sources()
    stamp = stamp_of(srcs)
    built = None
    if os.path.exists(STAMP):
        with open(STAMP) as fh:
            built = fh.read()
    if built != stamp:
        compiler = [j for j in jars if os.path.basename(j).startswith(
            ("scala-compiler-", "scala-library-", "scala-reflect-"))]
        shutil.rmtree(CLASSES, ignore_errors=True)
        os.makedirs(CLASSES)
        argfile = os.path.join(BUILD, "scalac.args")
        with open(argfile, "w") as fh:
            fh.write("\n".join(srcs) + "\n")
        cmd = ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx3g", "-cp", os.pathsep.join(compiler),
               "scala.tools.nsc.Main", "-nowarn", "-d", CLASSES,
               "-classpath", os.pathsep.join(jars), "@" + argfile]
        print(f"[build] compiling {len(srcs)} sources", file=sys.stderr)
        r = subprocess.run(cmd, stdout=sys.stderr)
        if r.returncode != 0:
            shutil.rmtree(CLASSES, ignore_errors=True)
            raise SystemExit(f"compile failed ({r.returncode})")
        with open(STAMP, "w") as fh:
            fh.write(stamp)
    return [CLASSES] + jars


if __name__ == "__main__":
    build()
    print(CLASSES)
