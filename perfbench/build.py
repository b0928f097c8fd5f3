#!/usr/bin/env python3
"""Build file of the benchmark package.

    python3 perfbench/build.py

Compiles the engine's sources (src/main/scala) together with the
benchmark's (perfbench/src/main/scala) into perfbench/target/classes with
the Scala compiler that ships in Spark's jars, against those same jars: no
build tool, no dependency resolution, nothing written outside the checkout.
A build is skipped while no source changed since the last one. run.py calls
it before every run.
"""
import glob
import hashlib
import os
import shutil
import signal
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
ENGINE_SRC = os.path.join(ROOT, "src", "main")
BENCH_SRC = os.path.join(HERE, "src", "main")
# engine resources (graft/expected_docs.csv) go on the runtime classpath as they are
RESOURCES = os.path.join(ENGINE_SRC, "resources")
TARGET = os.path.join(HERE, "target")
CLASSES = os.path.join(TARGET, "classes")
STAMP = os.path.join(TARGET, "source-stamp")
TIMEOUT_S = 600


class BuildError(Exception):
    pass


def spark_home():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if not submit:
            raise BuildError("no SPARK_HOME and no spark-submit on PATH")
        home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    if not os.path.isdir(os.path.join(home, "jars")):
        raise BuildError(f"no Spark jars under {home}")
    return home


def sources():
    files = []
    for r in (os.path.join(ENGINE_SRC, "scala"), os.path.join(BENCH_SRC, "scala")):
        for d, _, fs in os.walk(r):
            files += [os.path.join(d, f) for f in fs if f.endswith(".scala")]
    if not any(f.startswith(os.path.join(ENGINE_SRC, "scala")) for f in files):
        raise BuildError(f"engine sources not found under {ENGINE_SRC}; run from a graft checkout")
    return sorted(files)


def source_stamp(files):
    h = hashlib.sha256()
    for f in files + [os.path.abspath(__file__)]:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build():
    """Compiles the package unless it is up to date; returns the runtime classpath."""
    jars = os.path.join(spark_home(), "jars", "*")
    classpath = os.pathsep.join([CLASSES, RESOURCES, jars])
    files = sources()
    stamp = source_stamp(files)
    if os.path.isdir(CLASSES) and os.path.exists(STAMP) and open(STAMP).read() == stamp:
        return classpath
    if not glob.glob(os.path.join(spark_home(), "jars", "scala-compiler-*.jar")):
        raise BuildError("Spark's jars hold no scala-compiler jar to build with")
    shutil.rmtree(TARGET, ignore_errors=True)
    os.makedirs(CLASSES)
    log = os.path.join(TARGET, "build.log")
    cmd = ["java", "-Xss16m", "-Xmx2g", "-cp", jars, "scala.tools.nsc.Main",
           "-d", CLASSES, "-classpath", jars] + files
    with open(log, "w") as fh:
        p = subprocess.Popen(cmd, cwd=ROOT, stdout=fh, stderr=subprocess.STDOUT, start_new_session=True)
        try:
            code = p.wait(timeout=TIMEOUT_S)
        except BaseException:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            raise
    if code != 0:
        with open(log) as fh:
            raise BuildError(f"scalac exited {code}; {log}:\n" + "".join(fh.readlines()[-30:]))
    with open(STAMP, "w") as fh:
        fh.write(stamp)
    return classpath


if __name__ == "__main__":
    try:
        print(build())
    except BuildError as e:
        sys.exit(f"build.py: {e}")
