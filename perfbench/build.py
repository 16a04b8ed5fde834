#!/usr/bin/env python3
"""Build file of the benchmark package.

Compiles the program's sources (src/main/scala) together with the
benchmark's own (perfbench/src) with the Scala compiler that ships in the
Spark distribution's jars — the directory the program's build.sbt names as
its `unmanagedBase`, or else $SPARK_HOME/jars; the same jars the program
runs on — and packs them into .bench_build/bench.jar. It then
runs every workload once, briefly, in one JVM that writes a class-data
sharing archive (.bench_build/bench.jsa): later runs map the classes from
it instead of loading them from the jars, which cuts a run's JVM start by
several seconds and changes nothing else. A stamp of the source contents
skips all of this when nothing changed.

    python3 perfbench/build.py          # builds, prints the classpath
"""
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys
import zipfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
CLASSES = os.path.join(BUILD, "classes")
JAR = os.path.join(BUILD, "bench.jar")
ARCHIVE = os.path.join(BUILD, "bench.jsa")
STAMP = os.path.join(BUILD, "bench.stamp")
PROGRAM_SRC = os.path.join(ROOT, "src", "main", "scala")
BENCH_SRC = os.path.join(HERE, "src")

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def spark_jars():
    jars = None
    sbt = os.path.join(ROOT, "build.sbt")
    if os.path.exists(sbt):
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', open(sbt).read())
        jars = m.group(1) if m else None
    if jars is None and "SPARK_HOME" in os.environ:
        jars = os.path.join(os.environ["SPARK_HOME"], "jars")
    found = sorted(glob.glob(os.path.join(jars or "", "*.jar")))
    if not found:
        raise SystemExit(f"build: no Spark jars found (looked in {jars})")
    return found


def java_cmd(work, extra=()):
    """The JVM command line every benchmark JVM runs with."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # a fixed, pre-touched heap is resident in full from the start, so the
    # resident memory outside it is the peak RSS less the heap
    cmd = ["java", "-XX:-UsePerfData", "-Xms2g", "-Xmx2g",
           "-XX:+AlwaysPreTouch", "-Xss8m"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += list(extra)
    cmd += [
        f"-Djava.io.tmpdir={tmp}",
        f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}",
        f"-Dderby.stream.error.file={os.path.join(work, 'derby.log')}",
        "-cp", os.pathsep.join([JAR] + spark_jars()),
    ]
    return cmd


def sources():
    if not os.path.isdir(PROGRAM_SRC):
        raise SystemExit(f"build: program sources not found at {PROGRAM_SRC}")
    out = []
    for top in (PROGRAM_SRC, BENCH_SRC):
        for d, _, files in os.walk(top):
            out += [os.path.join(d, f) for f in files if f.endswith(".scala")]
    return sorted(out)


def compile_jar(srcs):
    shutil.rmtree(CLASSES, ignore_errors=True)
    os.makedirs(CLASSES)
    argfile = os.path.join(BUILD, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(srcs) + "\n")
    jars = os.pathsep.join(spark_jars())
    r = subprocess.run(
        ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", jars,
         "scala.tools.nsc.Main",
         "-nowarn", "-d", CLASSES, "-cp", jars, "@" + argfile],
        stdout=sys.stderr, stderr=sys.stderr)
    if r.returncode != 0:
        raise SystemExit(f"build: scalac exited with {r.returncode}")
    with zipfile.ZipFile(JAR, "w", zipfile.ZIP_STORED) as z:
        for d, _, files in sorted(os.walk(CLASSES)):
            for f in sorted(files):
                p = os.path.join(d, f)
                z.write(p, os.path.relpath(p, CLASSES))
    shutil.rmtree(CLASSES)


def train_archive():
    work = os.path.join(BUILD, "train")
    shutil.rmtree(work, ignore_errors=True)
    try:
        r = subprocess.run(
            java_cmd(work, [f"-XX:ArchiveClassesAtExit={ARCHIVE}"]) +
            ["perfbench.Main", "--train", work],
            stdout=sys.stderr, stderr=sys.stderr, timeout=600)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if r.returncode != 0 or not os.path.exists(ARCHIVE):
        raise SystemExit(f"build: training run exited with {r.returncode}")


def build():
    """Build what changed; return the extra JVM flags to run with."""
    srcs = sources()
    h = hashlib.sha256()
    for p in srcs:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    stamp = h.hexdigest()
    fresh = all(os.path.exists(p) for p in (STAMP, JAR, ARCHIVE))
    if not (fresh and open(STAMP).read() == stamp):
        os.makedirs(BUILD, exist_ok=True)
        for p in (STAMP, ARCHIVE):
            if os.path.exists(p):
                os.remove(p)
        compile_jar(srcs)
        train_archive()
        with open(STAMP, "w") as f:
            f.write(stamp)
    return [f"-XX:SharedArchiveFile={ARCHIVE}"]


if __name__ == "__main__":
    print(" ".join(build()))
