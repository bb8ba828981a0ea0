"""Builds the engine and the benchmark harness from source with scalac.

The engine's sources (src/main/scala of the repository) and the harness
(perfbench/scala) compile together into one class directory. The compiler,
the Scala library and Spark all come from the Spark distribution's jars:
$SPARK_HOME/jars, or the jars bundled with the pyspark package. A stamp of
the sources' contents lets an unchanged tree skip the compile.

Usage: python3 perfbench/build.py   (from the repository root)
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
CLASSES = os.path.join(BUILD, "classes")


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if home and glob.glob(os.path.join(home, "jars", "spark-core_*.jar")):
        return os.path.join(home, "jars")
    import pyspark
    return os.path.join(os.path.dirname(pyspark.__file__), "jars")


def sources():
    engine = os.path.join(ROOT, "src", "main", "scala")
    if not os.path.isdir(engine):
        raise SystemExit(f"engine sources not found at {engine}")
    files = sorted(glob.glob(os.path.join(engine, "**", "*.scala"), recursive=True))
    return files + sorted(glob.glob(os.path.join(HERE, "scala", "*.scala")))


def build():
    """Compiles if the sources changed; returns the runtime classpath."""
    jars = spark_jars()
    classpath = CLASSES + os.pathsep + os.path.join(jars, "*")
    files = sources()
    digest = hashlib.sha256()
    for f in files:
        digest.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            digest.update(fh.read())
    stamp_file = os.path.join(BUILD, "classes.stamp")
    stamp = digest.hexdigest()
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return classpath
    shutil.rmtree(CLASSES, ignore_errors=True)
    os.makedirs(CLASSES)
    tmp = os.path.join(BUILD, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java", "-Xss8m", "-Xmx3g", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
           "-cp", os.path.join(jars, "*"), "scala.tools.nsc.Main",
           "-usejavacp", "-nowarn", "-d", CLASSES] + files
    # run from an empty directory: scalac also reads classes from the
    # working directory, where perfbench/scala would shadow package scala
    proc = subprocess.run(cmd, cwd=tmp, stdout=subprocess.PIPE,
                          stderr=subprocess.STDOUT, text=True)
    if proc.returncode != 0:
        sys.stderr.write(proc.stdout[-8000:])
        raise SystemExit(f"scalac failed with exit code {proc.returncode}")
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    return classpath


if __name__ == "__main__":
    print(build())
