"""Build file of the benchmark: compiles graft's sources (src/main/scala)
and the harness (perfbench/src) into .bench_build/classes with the Scala
compiler that ships in Spark's jars directory ($SPARK_HOME/jars, else the
`unmanagedBase` of graft's build.sbt). The build is skipped when a stamp
over every source file's path and bytes matches the last successful build.

    python3 perfbench/build.py        # build (or confirm up to date)
"""
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(ROOT, ".bench_build")
CLASSES = os.path.join(OUT, "classes")
STAMP = os.path.join(OUT, "classes.stamp")


def spark_jars():
    """$SPARK_HOME/jars, else the jar directory graft's build.sbt names."""
    if os.environ.get("SPARK_HOME"):
        return os.path.join(os.environ["SPARK_HOME"], "jars")
    try:
        with open(os.path.join(ROOT, "build.sbt")) as fh:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', fh.read())
    except OSError:
        m = None
    if not m:
        raise RuntimeError("SPARK_HOME is not set and build.sbt names no jar directory")
    return m.group(1)


def sources():
    files = []
    for top in (os.path.join(ROOT, "src", "main", "scala"), os.path.join(HERE, "src")):
        files += glob.glob(os.path.join(top, "**", "*.scala"), recursive=True)
    return sorted(files)


def classpath():
    return os.path.join(spark_jars(), "*") + os.pathsep + CLASSES


def build(log=sys.stderr):
    """Compile if any source changed; return the runtime classpath."""
    program = os.path.join(ROOT, "src", "main", "scala", "graft", "SparkEntry.scala")
    if not os.path.isfile(program):
        raise RuntimeError(f"graft sources not found under {ROOT}/src/main/scala")
    if not glob.glob(os.path.join(spark_jars(), "scala-compiler-*.jar")):
        raise RuntimeError(f"no Scala compiler in {spark_jars()}")
    files = sources()
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    stamp = h.hexdigest()
    if os.path.isdir(CLASSES) and os.path.isfile(STAMP):
        with open(STAMP) as fh:
            if fh.read().strip() == stamp:
                return classpath()
    shutil.rmtree(CLASSES, ignore_errors=True)
    os.makedirs(CLASSES)
    argfile = os.path.join(OUT, "scalac.args")
    with open(argfile, "w") as fh:
        fh.write("\n".join(f'"{f}"' for f in files) + "\n")
    print(f"[perfbench] compiling {len(files)} Scala files", file=log, flush=True)
    jars = os.path.join(spark_jars(), "*")
    r = subprocess.run(
        ["java", "-Xss8m", "-Xmx2g", "-cp", jars, "scala.tools.nsc.Main",
         "-nowarn", "-d", CLASSES, "-classpath", jars, "@" + argfile],
        stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        raise RuntimeError("scalac failed:\n" + r.stdout[-4000:])
    with open(STAMP, "w") as fh:
        fh.write(stamp + "\n")
    return classpath()


if __name__ == "__main__":
    try:
        build()
    except RuntimeError as e:
        print(f"[perfbench] build failed: {e}", file=sys.stderr)
        sys.exit(2)
