"""Build file of the benchmark: compiles the program's main sources and the
benchmark's own sources with the Scala compiler that ships in Spark's jars,
into .bench_build/classes. Skips the build when no source changed.

    python3 perfbench/build.py
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
MAIN = os.path.join(ROOT, "src", "main")
BENCH_SRC = os.path.join(ROOT, "perfbench", "src")


def spark_jars():
    """The jars of the Spark install: $SPARK_HOME/jars, else the directory
    the project's build.sbt names as its `unmanagedBase`."""
    if os.environ.get("SPARK_HOME"):
        jar_dir = os.path.join(os.environ["SPARK_HOME"], "jars")
    else:
        sbt = os.path.join(ROOT, "build.sbt")
        found = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)',
                          open(sbt).read()) if os.path.exists(sbt) else None
        jar_dir = found.group(1) if found else ""
    jars = sorted(glob.glob(os.path.join(jar_dir, "*.jar")))
    if not jars:
        sys.exit("build: no Spark jars found (set SPARK_HOME)")
    return jars


def sources():
    if not os.path.isdir(os.path.join(MAIN, "scala")):
        sys.exit("build: the program's sources (src/main/scala) are missing")
    found = []
    for base in (os.path.join(MAIN, "scala"), BENCH_SRC):
        found += glob.glob(os.path.join(base, "**", "*.scala"), recursive=True)
    return sorted(found)


def stamp(files):
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build():
    """Compile if needed; returns the run classpath."""
    jars = spark_jars()
    files = sources()
    resources = os.path.join(MAIN, "resources")
    files_res = sorted(glob.glob(os.path.join(resources, "**", "*"), recursive=True))
    digest = stamp(files + [f for f in files_res if os.path.isfile(f)])
    stamp_file = os.path.join(CLASSES, ".stamp")
    classpath = os.pathsep.join([CLASSES] + jars)
    if os.path.exists(stamp_file) and open(stamp_file).read() == digest:
        return classpath
    os.makedirs(BUILD, exist_ok=True)
    tmp = CLASSES + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    argfile = os.path.join(BUILD, "sources.txt")
    with open(argfile, "w") as fh:
        fh.write("\n".join(files) + "\n")
    compiler = [j for j in jars if os.path.basename(j).startswith(
        ("scala-compiler-", "scala-library-", "scala-reflect-"))]
    cmd = ["java", "-Xmx3g", "-Xss8m", "-XX:-UsePerfData", "-cp", os.pathsep.join(compiler),
           "scala.tools.nsc.Main", "-nowarn", "-d", tmp,
           "-cp", os.pathsep.join(jars), "@" + argfile]
    print("build: compiling %d sources" % len(files), file=sys.stderr)
    r = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr)
    if r.returncode != 0:
        sys.exit("build: compilation failed")
    if os.path.isdir(resources):
        shutil.copytree(resources, tmp, dirs_exist_ok=True)
    with open(os.path.join(tmp, ".stamp"), "w") as fh:
        fh.write(digest)
    shutil.rmtree(CLASSES, ignore_errors=True)
    os.rename(tmp, CLASSES)
    return classpath


if __name__ == "__main__":
    build()
