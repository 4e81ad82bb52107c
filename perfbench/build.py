#!/usr/bin/env python3
"""Build file of the benchmark: compiles the engine (src/main/scala) and the
benchmark's JVM program (perfbench/src) with the Scala compiler that ships in
the Spark distribution, into .bench_build/classes under the checkout root.

    python3 perfbench/build.py          # build if any source changed

The build is skipped when a content hash of every source matches the last
build's stamp. The Spark distribution is SPARK_HOME, or else the one the
repo's build.sbt names as its unmanagedBase.
"""
import fcntl
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


def spark_jars():
    """SPARK_HOME/jars, else the jar directory build.sbt compiles against."""
    if os.environ.get("SPARK_HOME"):
        jars = os.path.join(os.environ["SPARK_HOME"], "jars")
    else:
        try:
            with open(os.path.join(ROOT, "build.sbt")) as f:
                m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
        except OSError:
            m = None
        if not m:
            raise SystemExit("build: set SPARK_HOME (build.sbt names no unmanagedBase)")
        jars = m.group(1)
    if not glob.glob(os.path.join(jars, "spark-sql_*.jar")):
        raise SystemExit(f"build: no Spark jars under {jars} (set SPARK_HOME)")
    return jars


def sources():
    found = []
    for base in (os.path.join(ROOT, "src", "main", "scala"), os.path.join(HERE, "src")):
        found += glob.glob(os.path.join(base, "**", "*.scala"), recursive=True)
    return sorted(found)


def build():
    """Compile if stale; returns the class directory. Concurrent callers
    serialize on a lock file, so a second one finds the first one's stamp."""
    os.makedirs(BUILD, exist_ok=True)
    with open(os.path.join(BUILD, "build.lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        return _build()


def _build():
    srcs = sources()
    if not any(s.startswith(os.path.join(ROOT, "src", "main")) for s in srcs):
        raise SystemExit("build: engine sources (src/main/scala) not found")
    digest = hashlib.sha256()
    for s in srcs:
        digest.update(os.path.relpath(s, ROOT).encode())
        with open(s, "rb") as f:
            digest.update(f.read())
    stamp = os.path.join(BUILD, "classes.stamp")
    if os.path.isdir(CLASSES) and os.path.exists(stamp):
        with open(stamp) as f:
            if f.read() == digest.hexdigest():
                return CLASSES
    jars = os.path.join(spark_jars(), "*")
    tmp = CLASSES + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    argfile = os.path.join(BUILD, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(srcs))
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", f"-Djava.io.tmpdir={BUILD}",
           "-cp", jars, "scala.tools.nsc.Main",
           "-nowarn", "-d", tmp, "-classpath", jars, "@" + argfile]
    r = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-4000:])
        raise SystemExit("build: scalac failed")
    shutil.rmtree(CLASSES, ignore_errors=True)
    os.rename(tmp, CLASSES)
    with open(stamp, "w") as f:
        f.write(digest.hexdigest())
    return CLASSES


if __name__ == "__main__":
    print(build())
