#!/usr/bin/env python3
"""Build file of the benchmark package: compiles the engine (src/main/scala)
and the benchmark program (perfbench/src) with the Scala compiler that ships
in Spark's jar directory, into .bench_build/classes under the checkout root.

    python3 perfbench/build.py        # from the checkout root

A stamp of the sources' content makes a rebuild of unchanged sources a
no-op. Exits non-zero when the engine sources are missing.
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

BUILD_DIR = ".bench_build"
CLASSES = os.path.join(BUILD_DIR, "classes")
ENGINE_SRC = os.path.join("src", "main", "scala")
ENGINE_RESOURCES = os.path.join("src", "main", "resources")
BENCH_SRC = os.path.join("perfbench", "src")


def spark_jars():
    jars = os.path.join(os.environ.get("SPARK_HOME", "/opt/spark"), "jars")
    if not glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
        sys.exit(f"perfbench: no Scala compiler under {jars} (set SPARK_HOME)")
    return jars


def sources():
    engine = sorted(glob.glob(os.path.join(ENGINE_SRC, "**", "*.scala"), recursive=True))
    if not engine:
        sys.exit(f"perfbench: no engine sources under {ENGINE_SRC}; "
                 "run from the root of a full checkout")
    return engine + sorted(glob.glob(os.path.join(BENCH_SRC, "*.scala")))


def classpath():
    return os.pathsep.join([CLASSES, os.path.join(spark_jars(), "*")])


def build():
    srcs = sources()
    resources = sorted(p for p in glob.glob(os.path.join(ENGINE_RESOURCES, "**"), recursive=True)
                       if os.path.isfile(p))
    h = hashlib.sha256()
    for p in srcs + resources:
        h.update(p.encode())
        with open(p, "rb") as f:
            h.update(f.read())
    stamp = os.path.join(CLASSES, ".stamp")
    if os.path.exists(stamp) and open(stamp).read() == h.hexdigest():
        return
    shutil.rmtree(CLASSES, ignore_errors=True)
    os.makedirs(CLASSES)
    cp = os.path.join(spark_jars(), "*")
    subprocess.run(["java", "-Xss8m", "-Xmx2g", "-cp", cp, "scala.tools.nsc.Main",
                    "-nowarn", "-d", CLASSES, "-cp", cp] + srcs,
                   check=True, stdout=sys.stderr)
    for p in resources:
        dst = os.path.join(CLASSES, os.path.relpath(p, ENGINE_RESOURCES))
        os.makedirs(os.path.dirname(dst), exist_ok=True)
        shutil.copyfile(p, dst)
    with open(stamp, "w") as f:
        f.write(h.hexdigest())


if __name__ == "__main__":
    build()
