#!/usr/bin/env python3
"""Build file of the benchmark: compiles the engine (src/main) and the
benchmark's own Scala sources (cdcbench/scala) with the Scala compiler that
ships with Spark, into .bench_build/cdcbench/classes.

    python3 cdcbench/build.py

A build is skipped when the sources are unchanged since the last one.
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
OUT = os.path.join(REPO, ".bench_build", "cdcbench")
CLASSES = os.path.join(OUT, "classes")
SPARK_JARS = os.path.join(os.environ.get("SPARK_HOME", "/opt/spark"), "jars")


def _files(pattern):
    return sorted(glob.glob(pattern, recursive=True))


def spark_classpath():
    return os.path.join(SPARK_JARS, "*")


def build():
    """Compile if needed; return the classes directory. Raises on failure."""
    engine = _files(os.path.join(REPO, "src", "main", "scala", "**", "*.scala"))
    bench = _files(os.path.join(HERE, "scala", "**", "*.scala"))
    res_root = os.path.join(REPO, "src", "main", "resources")
    resources = [p for p in _files(os.path.join(res_root, "**", "*")) if os.path.isfile(p)]
    if not engine:
        raise RuntimeError("engine sources not found under src/main/scala")
    compiler = [j for j in _files(os.path.join(SPARK_JARS, "scala-*.jar"))
                if os.path.basename(j).startswith(("scala-compiler", "scala-library",
                                                   "scala-reflect"))]
    if len(compiler) != 3:
        raise RuntimeError(f"Scala compiler jars not found in {SPARK_JARS}")

    digest = hashlib.sha256()
    for p in engine + bench + resources:
        digest.update(os.path.relpath(p, REPO).encode())
        with open(p, "rb") as f:
            digest.update(f.read())
    stamp = os.path.join(OUT, "classes.stamp")
    if os.path.isdir(CLASSES) and os.path.exists(stamp):
        with open(stamp) as f:
            if f.read() == digest.hexdigest():
                return CLASSES

    os.makedirs(OUT, exist_ok=True)
    tmp = CLASSES + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    argfile = os.path.join(OUT, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(engine + bench) + "\n")
    cmd = ["java", "-Xss8m", "-Xmx3g", "-cp", os.pathsep.join(compiler),
           "scala.tools.nsc.Main", "-nowarn", "-classpath", spark_classpath(),
           "-d", tmp, "@" + argfile]
    with open(os.path.join(OUT, "build.log"), "w") as log:
        rc = subprocess.run(cmd, stdout=log, stderr=subprocess.STDOUT).returncode
    if rc != 0:
        raise RuntimeError(f"compilation failed (rc {rc}); see {OUT}/build.log")
    for p in resources:
        dst = os.path.join(tmp, os.path.relpath(p, res_root))
        os.makedirs(os.path.dirname(dst), exist_ok=True)
        shutil.copyfile(p, dst)
    shutil.rmtree(CLASSES, ignore_errors=True)
    os.rename(tmp, CLASSES)
    with open(stamp, "w") as f:
        f.write(digest.hexdigest())
    return CLASSES


if __name__ == "__main__":
    try:
        print(build())
    except RuntimeError as e:
        print(f"build: {e}", file=sys.stderr)
        sys.exit(1)
