#!/usr/bin/env python3
"""Build file of the benchmark: compiles the library (src/main/scala) and the
benchmark harness (perfbench/harness) with the Scala compiler that ships in
Spark's jars, into .bench_build/classes of the checkout, then dumps the
declared queries' modules and oracle SQL next to the classes.

The build is skipped when a stamp of every source file's content matches the
last build. Usage, from the root of the checkout:

    python3 perfbench/build.py
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

BUILD = ".bench_build"
CLASSES = os.path.join(BUILD, "classes")
STAMP = os.path.join(BUILD, "classes.stamp")
QUERIES = os.path.join(BUILD, "queries.json")

# Spark 4 on JDK 17 outside spark-submit needs these (the same list as the
# repository's build.sbt).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]
JVM_OPTS = [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]


def spark_jars():
    """The Spark distribution's jar directory: $SPARK_HOME/jars, else the one
    beside the spark-submit found on PATH."""
    home = os.environ.get("SPARK_HOME")
    if not home:
        exe = shutil.which("spark-submit")
        if exe:
            home = os.path.dirname(os.path.dirname(os.path.realpath(exe)))
    jars = os.path.join(home or "", "jars")
    if not glob.glob(os.path.join(jars, "spark-sql_*.jar")):
        sys.exit("perfbench: no Spark distribution found (set SPARK_HOME)")
    return jars


def sources():
    lib = sorted(glob.glob("src/main/scala/**/*.scala", recursive=True))
    if not lib:
        sys.exit("perfbench: no library sources under src/main/scala")
    return lib + sorted(glob.glob("perfbench/harness/*.scala"))


def classpath():
    return os.pathsep.join([CLASSES, "src/main/resources",
                            os.path.join(spark_jars(), "*")])


def java(*args, **kw):
    return subprocess.run(["java", *JVM_OPTS, "-cp", classpath(), *args],
                          check=True, **kw)


def build():
    srcs = sources()
    h = hashlib.sha256()
    for f in srcs + sorted(glob.glob("src/main/resources/**", recursive=True)):
        if os.path.isfile(f):
            h.update(f.encode())
            with open(f, "rb") as fh:
                h.update(hashlib.sha256(fh.read()).digest())
    stamp = h.hexdigest()
    if os.path.exists(STAMP) and open(STAMP).read() == stamp and \
            os.path.exists(QUERIES):
        return
    shutil.rmtree(CLASSES, ignore_errors=True)
    os.makedirs(CLASSES)
    jars = os.path.join(spark_jars(), "*")
    print(f"perfbench: compiling {len(srcs)} files", file=sys.stderr)
    subprocess.run(["java", "-Xss8m", "-Xmx2g", "-cp", jars,
                    "scala.tools.nsc.Main", "-nowarn", "-classpath", jars,
                    "-d", CLASSES, *srcs], check=True)
    java("perfbench.Main", "dump", QUERIES)
    with open(STAMP, "w") as fh:
        fh.write(stamp)


if __name__ == "__main__":
    build()
