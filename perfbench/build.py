#!/usr/bin/env python3
"""Compile the program (src/main/scala) and the benchmark (perfbench/src)
into .bench_build/perfbench/perfbench.jar with the Scala compiler that
ships in Spark's jars directory; the repository's own sbt build is not
touched. Skips the build when the sources are unchanged since the last one.

Usage: python3 perfbench/build.py
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys
import zipfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
OUT = os.path.join(ROOT, ".bench_build", "perfbench")
JAR = os.path.join(OUT, "perfbench.jar")
STAMP = os.path.join(OUT, "build.stamp")
JDK_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
             "java.net", "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar"]


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = os.path.join(home or "", "jars")
    if not home or not glob.glob(os.path.join(jars, "spark-sql_*.jar")):
        sys.exit("build: Spark jars not found (set SPARK_HOME)")
    return jars


def sources():
    program = sorted(glob.glob(os.path.join(ROOT, "src", "main", "scala", "**", "*.scala"),
                               recursive=True))
    bench = sorted(glob.glob(os.path.join(ROOT, "perfbench", "src", "*.scala")))
    if not program:
        sys.exit("build: program sources (src/main/scala) not found")
    return program + bench


def java_cmd(work):
    """The JVM command line of a run. The JIT compiler threads are a fixed
    set, so the program-CPU figure can leave them out by name."""
    return (["java", "-Xmx3g", "-XX:+UseParallelGC", "-XX:-UseDynamicNumberOfCompilerThreads"] +
            ["-Dlog4j2.configurationFile=" + os.path.join(ROOT, "perfbench", "log4j2.properties"),
             "-Djava.io.tmpdir=" + os.path.join(work, "tmp")] +
            [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in JDK_OPENS] +
            ["-cp", os.pathsep.join([JAR, os.path.join(spark_jars(), "*")]),
             "perfbench.Main"])


def child_env():
    env = dict(os.environ)
    env.pop("SPARK_LOCAL_DIRS", None)  # keep Spark's scratch in the work dir
    return env


def compile_jar(jars, srcs):
    scalac = [glob.glob(os.path.join(jars, f"scala-{n}-2.13*.jar"))
              for n in ("compiler", "library", "reflect")]
    if not all(scalac):
        sys.exit("build: Scala 2.13 compiler jars not found in Spark's jars")
    classes = os.path.join(OUT, "classes")
    shutil.rmtree(classes, ignore_errors=True)
    os.makedirs(classes)
    cmd = ["java", "-Xss8m", "-Xmx2g",
           "-cp", os.pathsep.join(j[0] for j in scalac),
           "scala.tools.nsc.Main", "-nowarn",
           "-classpath", os.path.join(jars, "*"),
           "-d", classes] + srcs
    print(f"build: compiling {len(srcs)} sources", file=sys.stderr, flush=True)
    proc = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr)
    if proc.returncode != 0:
        sys.exit(f"build: scalac failed with code {proc.returncode}")
    with zipfile.ZipFile(JAR + ".tmp", "w", zipfile.ZIP_STORED) as z:
        for d, _, files in sorted(os.walk(classes)):
            for f in sorted(files):
                path = os.path.join(d, f)
                z.write(path, os.path.relpath(path, classes))
    os.replace(JAR + ".tmp", JAR)
    shutil.rmtree(classes, ignore_errors=True)


def build():
    jars = spark_jars()
    srcs = sources()
    digest = hashlib.sha256()
    for path in srcs + [os.path.abspath(__file__)]:
        digest.update(path.encode())
        with open(path, "rb") as f:
            digest.update(f.read())
    stamp = digest.hexdigest()
    if os.path.exists(JAR) and os.path.exists(STAMP):
        with open(STAMP) as f:
            if f.read().strip() == stamp:
                return
    os.makedirs(OUT, exist_ok=True)
    if os.path.exists(STAMP):
        os.remove(STAMP)
    compile_jar(jars, srcs)
    with open(STAMP, "w") as f:
        f.write(stamp)


if __name__ == "__main__":
    build()
