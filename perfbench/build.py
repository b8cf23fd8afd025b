"""Builds the engine and the benchmark runner from source with the Scala
compiler that ships in the Spark distribution's jars (the jars the
engine's own build compiles against), writing only under
`.bench_build/perfbench` in the current directory.

A build is skipped when the sources hash to the last build's stamp.

Usage: python3 perfbench/build.py   (from the repo root)
Prints the runtime classpath.
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys


def spark_jars():
    """The jars of $SPARK_HOME, else of the first Spark distribution on
    PATH that ships the Scala compiler."""
    homes = [os.environ["SPARK_HOME"]] if os.environ.get("SPARK_HOME") else [
        os.path.dirname(os.path.realpath(d)) for d in os.environ.get("PATH", "").split(os.pathsep)
        if os.path.isfile(os.path.join(d, "spark-submit"))]
    for home in homes:
        if glob.glob(os.path.join(home, "jars", "scala-compiler-*.jar")):
            return os.path.join(home, "jars")
    raise RuntimeError("no Spark distribution with the Scala compiler: set SPARK_HOME")


OUT = os.path.join(".bench_build", "perfbench")
SOURCE_ROOTS = ["src/main/scala", "perfbench/src"]

# Spark on JDK 17 outside spark-submit needs these (the same list the
# engine's build passes to its forked runs).
JAVA_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
    "java.net", "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar")]


def sources():
    found = []
    for root in SOURCE_ROOTS:
        found += glob.glob(os.path.join(root, "**", "*.scala"), recursive=True)
    return sorted(found)


def classpath():
    return os.path.join(OUT, "classes") + os.pathsep + os.path.join(spark_jars(), "*")


def build():
    """Compiles if the sources changed; returns the runtime classpath.
    Raises when there is nothing to build or the compiler fails."""
    srcs = sources()
    if not any(s.startswith("src/") for s in srcs):
        raise RuntimeError("no engine sources under src/main/scala")
    digest = hashlib.sha256()
    for s in srcs:
        digest.update(s.encode())
        with open(s, "rb") as f:
            digest.update(f.read())
    stamp = os.path.join(OUT, "stamp")
    if os.path.exists(stamp):
        with open(stamp) as f:
            if f.read() == digest.hexdigest():
                return classpath()
    classes = os.path.join(OUT, "classes")
    shutil.rmtree(classes, ignore_errors=True)
    os.makedirs(classes)
    subprocess.run(["java", "-Xmx2g", "-Xss8m", "-XX:-UsePerfData", "-cp", os.path.join(spark_jars(), "*"),
                    "scala.tools.nsc.Main", "-usejavacp", "-nowarn",
                    "-d", classes] + srcs, check=True, timeout=840)
    with open(stamp, "w") as f:
        f.write(digest.hexdigest())
    return classpath()


if __name__ == "__main__":
    try:
        print(build())
    except (RuntimeError, subprocess.SubprocessError) as e:
        sys.exit(f"build failed: {e}")
