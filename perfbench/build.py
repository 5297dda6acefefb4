#!/usr/bin/env python3
"""Build file of the benchmark: compiles the program's sources
(src/main/scala, src/main/resources) together with perfbench/src into
.bench_build/classes with the Scala compiler that ships in the Spark
distribution ($SPARK_HOME/jars). Rebuilds only when a source changed.

    python3 perfbench/build.py        # from the repository root
"""
import fcntl
import glob
import hashlib
import os
import shutil
import subprocess
import sys

BUILD = ".bench_build"
CLASSES = os.path.join(BUILD, "classes")


def spark_jars():
    """jars/ of the Spark distribution: $SPARK_HOME, else the one whose
    spark-submit is on PATH."""
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if not submit:
            raise SystemExit("perfbench: set SPARK_HOME to a Spark distribution")
        home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    return os.path.join(home, "jars")


def sources():
    main = sorted(glob.glob("src/main/scala/**/*.scala", recursive=True))
    bench = sorted(glob.glob("perfbench/src/**/*.scala", recursive=True))
    if not main:
        raise SystemExit("perfbench: no program sources under src/main/scala")
    return main + bench


def classpath():
    return CLASSES + ":" + os.path.join(spark_jars(), "*")


def build():
    os.makedirs(BUILD, exist_ok=True)
    srcs = sources()
    resources = sorted(p for p in glob.glob("src/main/resources/**/*", recursive=True)
                       if os.path.isfile(p))
    h = hashlib.sha256()
    for p in srcs + resources:
        h.update(p.encode())
        with open(p, "rb") as f:
            h.update(f.read())
    stamp = h.hexdigest()
    with open(os.path.join(BUILD, "build.lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        stamp_file = os.path.join(BUILD, "classes.stamp")
        if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
            return
        shutil.rmtree(CLASSES, ignore_errors=True)
        os.makedirs(CLASSES)
        jars = os.path.join(spark_jars(), "*")
        cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", jars, "scala.tools.nsc.Main", "-nowarn",
               "-d", CLASSES, "-classpath", jars] + srcs
        r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
        if r.returncode != 0:
            sys.stderr.write(r.stdout[-4000:])
            raise SystemExit("perfbench: compilation failed")
        for p in resources:
            dest = os.path.join(CLASSES, os.path.relpath(p, "src/main/resources"))
            os.makedirs(os.path.dirname(dest), exist_ok=True)
            shutil.copyfile(p, dest)
        with open(stamp_file, "w") as f:
            f.write(stamp)


if __name__ == "__main__":
    build()
