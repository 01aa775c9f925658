"""Build file of the benchmark package: compiles the program's sources
(src/main/scala) together with the benchmark's own (perfbench/scala)
with the Scala compiler that ships in the Spark distribution, into
perfbench/_build/classes. Rebuilds only when a source file changed.

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
OUT = os.path.join(HERE, "_build")
CLASSES = os.path.join(OUT, "classes")
STAMP = os.path.join(OUT, "stamp")
SCALA_VERSION = "2.13.17"


def spark_jars():
    """The Spark distribution's jars: $SPARK_HOME, else the first
    distribution on PATH (a bin/ directory with a sibling jars/)."""
    homes = [os.environ.get("SPARK_HOME")] + [
        os.path.dirname(os.path.realpath(d)) for d in os.environ.get("PATH", "").split(os.pathsep)]
    for home in filter(None, homes):
        jars = os.path.join(home, "jars")
        if os.path.isfile(os.path.join(jars, f"scala-compiler-{SCALA_VERSION}.jar")):
            return jars
    raise SystemExit("perfbench: no Spark distribution found (set SPARK_HOME)")


def sources():
    main = os.path.join(ROOT, "src", "main", "scala")
    if not os.path.isdir(main):
        raise SystemExit("perfbench: src/main/scala not found; run from the repository root")
    files = sorted(glob.glob(os.path.join(main, "**", "*.scala"), recursive=True) +
                   glob.glob(os.path.join(HERE, "scala", "**", "*.scala"), recursive=True))
    resources = sorted(p for p in glob.glob(os.path.join(ROOT, "src", "main", "resources", "**"),
                                            recursive=True) if os.path.isfile(p))
    return files, resources


def classpath():
    """Runtime classpath: compiled classes, program resources, Spark jars."""
    return os.pathsep.join([CLASSES, os.path.join(ROOT, "src", "main", "resources"),
                            os.path.join(spark_jars(), "*")])


def build(log=sys.stderr):
    files, resources = sources()
    h = hashlib.sha256()
    for p in files + resources:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    digest = h.hexdigest()
    if os.path.exists(STAMP) and open(STAMP).read() == digest and os.path.isdir(CLASSES):
        return
    jars = spark_jars()
    tmp = CLASSES + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    compiler = os.pathsep.join(os.path.join(jars, f"scala-{n}-{SCALA_VERSION}.jar")
                               for n in ("compiler", "library", "reflect"))
    print(f"perfbench: compiling {len(files)} Scala files", file=log)
    r = subprocess.run(["java", "-Xss8m", "-Xmx2g", "-cp", compiler, "scala.tools.nsc.Main",
                        "-nowarn", "-d", tmp, "-classpath", os.path.join(jars, "*")] + files,
                       stdout=log, stderr=log)
    if r.returncode != 0:
        raise SystemExit(f"perfbench: compile failed ({r.returncode})")
    shutil.rmtree(CLASSES, ignore_errors=True)
    os.rename(tmp, CLASSES)
    with open(STAMP, "w") as f:
        f.write(digest)


if __name__ == "__main__":
    build()
