"""Builds the library and the benchmark harness from source with scalac.

The library sources (src/main/scala) and the harness sources
(perfbench/src) compile together into one class directory under
.bench_build/, keyed by a hash of every source file, so a rebuilt tree
never runs stale classes and an unchanged tree is not compiled twice.
Spark's jars, which ship scala-compiler, are the whole classpath.

    python3 perfbench/build.py        # prints the class directory
"""
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SOURCES = [os.path.join(ROOT, "src", "main", "scala"),
           os.path.join(ROOT, "perfbench", "src")]
BUILD_DIR = os.path.join(ROOT, ".bench_build")


def spark_jars():
    """Spark's jar directory: $SPARK_HOME/jars, else build.sbt's unmanagedBase."""
    if "SPARK_HOME" in os.environ:
        jars = os.path.join(os.environ["SPARK_HOME"], "jars")
    else:
        with open(os.path.join(ROOT, "build.sbt")) as fh:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', fh.read())
        if not m:
            raise SystemExit("set SPARK_HOME: build.sbt names no unmanagedBase")
        jars = m.group(1)
    if not glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
        raise SystemExit(f"no Spark jars with scala-compiler under {jars}")
    return os.path.join(jars, "*")


def source_files():
    files = []
    for d in SOURCES:
        if not os.path.isdir(d):
            raise SystemExit(f"missing source directory {os.path.relpath(d, ROOT)}")
        for dirpath, _, names in os.walk(d):
            files += [os.path.join(dirpath, n) for n in names
                      if n.endswith((".scala", ".java"))]
    return sorted(files)


def build():
    """Returns the class directory, compiling first if it is missing."""
    files = source_files()
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    classes = os.path.join(BUILD_DIR, "classes-" + h.hexdigest()[:16])
    if os.path.isdir(classes):
        return classes
    tmp = classes + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    jars = spark_jars()
    args_file = os.path.join(BUILD_DIR, "sources.txt")
    with open(args_file, "w") as fh:
        fh.write("\n".join(files))
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", jars, "scala.tools.nsc.Main",
           "-nowarn", "-d", tmp, "-cp", jars, "@" + args_file]
    r = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr)
    if r.returncode != 0:
        raise SystemExit(f"scalac failed with exit code {r.returncode}")
    os.rename(tmp, classes)
    return classes


if __name__ == "__main__":
    print(build())
