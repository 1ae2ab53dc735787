#!/usr/bin/env python3
"""Build file of the benchmark: compiles the engine (src/main/scala) and the
harness (perfbench/harness) with the Scala compiler that ships among the
Spark jars, into .bench_build/classes. No sbt, no network: everything the
compile reads is in the checkout or in the Spark distribution.

A build is skipped when the sources, the jars and the JDK are unchanged
(content stamp). Usage: python3 perfbench/build.py
"""
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
BUILD = os.path.join(ROOT, ".bench_build")
CLASSES = os.path.join(BUILD, "classes")


def spark_jars():
    """$SPARK_HOME/jars, else the jar directory build.sbt declares."""
    if "SPARK_HOME" in os.environ:
        jars = os.path.join(os.environ["SPARK_HOME"], "jars")
    else:
        with open(os.path.join(ROOT, "build.sbt")) as fh:
            m = re.search(r'unmanagedBase := file\("([^"]+)"\)', fh.read())
        if not m:
            raise SystemExit("perfbench: set SPARK_HOME (build.sbt names no unmanagedBase)")
        jars = m.group(1)
    if not glob.glob(os.path.join(jars, "spark-sql_*.jar")):
        raise SystemExit(f"perfbench: no Spark jars under {jars} (set SPARK_HOME)")
    return jars


def sources(rel):
    base = os.path.join(ROOT, rel)
    return sorted(glob.glob(os.path.join(base, "**", "*.scala"), recursive=True))


def stamp(files, jars):
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    h.update("\n".join(sorted(os.listdir(jars))).encode())
    h.update(subprocess.run(["java", "-version"], capture_output=True).stderr)
    return h.hexdigest()


def scalac(jars, classpath, out, files, log):
    comp = [glob.glob(os.path.join(jars, f"scala-{n}-2.13*.jar"))
            for n in ("compiler", "library", "reflect")]
    if not all(comp):
        raise SystemExit(f"perfbench: no Scala 2.13 compiler jars under {jars}")
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", ":".join(c[0] for c in comp),
           "scala.tools.nsc.Main", "-nowarn", "-classpath", classpath, "-d", tmp] + files
    with open(log, "ab") as lf:
        r = subprocess.run(cmd, stdout=lf, stderr=subprocess.STDOUT)
    if r.returncode != 0:
        raise SystemExit(f"perfbench: compile failed, see {log}")
    shutil.rmtree(out, ignore_errors=True)
    os.rename(tmp, out)


def build():
    """Compile if needed; returns the runtime classpath."""
    engine = sources("src/main/scala")
    harness = sources("perfbench/harness")
    if not engine:
        raise SystemExit("perfbench: no engine sources under src/main/scala")
    jars = spark_jars()
    os.makedirs(BUILD, exist_ok=True)
    eng_out, har_out = os.path.join(CLASSES, "engine"), os.path.join(CLASSES, "harness")
    stamp_file = os.path.join(BUILD, "stamp")
    want = stamp(engine + harness, jars)
    have = open(stamp_file).read() if os.path.exists(stamp_file) else ""
    if want != have:
        log = os.path.join(BUILD, "build.log")
        open(log, "w").close()
        scalac(jars, os.path.join(jars, "*"), eng_out, engine, log)
        scalac(jars, eng_out + ":" + os.path.join(jars, "*"), har_out, harness, log)
        with open(stamp_file, "w") as fh:
            fh.write(want)
    return ":".join([eng_out, har_out, os.path.join(jars, "*")])


if __name__ == "__main__":
    print(build())
