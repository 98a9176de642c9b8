"""Build file of the benchmark: compiles the engine's sources together with
the benchmark's own JVM harness into `perfbench/work/classes`.

The engine is compiled straight from `src/main/scala` with the Scala compiler
that ships in Spark's jar directory, so the benchmark needs neither sbt nor
the repository's build definition. A content digest of every source file
decides whether a rebuild is needed.

Usage: python3 perfbench/build.py
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, "work")
CLASSES = os.path.join(WORK, "classes")
STAMP = os.path.join(WORK, "classes.sha256")


def spark_jars():
    """Spark's jar directory: `$SPARK_HOME/jars`, else the jars the `pyspark`
    package of this Python ships (the same Spark release)."""
    home = os.environ.get("SPARK_HOME")
    if home:
        return os.path.join(home, "jars")
    import pyspark
    return os.path.join(os.path.dirname(pyspark.__file__), "jars")


def sources():
    engine = sorted(glob.glob(os.path.join(ROOT, "src/main/scala/**/*.scala"), recursive=True))
    if not engine:
        raise SystemExit("perfbench: no engine sources under src/main/scala")
    return engine + sorted(glob.glob(os.path.join(HERE, "scala/**/*.scala"), recursive=True))


def classpath():
    """Runtime classpath: compiled classes, the engine's resources, Spark."""
    return os.pathsep.join([CLASSES, os.path.join(ROOT, "src/main/resources"),
                            os.path.join(spark_jars(), "*")])


def build():
    srcs = sources()
    h = hashlib.sha256()
    for s in srcs:
        h.update(os.path.relpath(s, ROOT).encode())
        with open(s, "rb") as f:
            h.update(f.read())
    digest = h.hexdigest()
    if os.path.exists(STAMP) and open(STAMP).read() == digest:
        return
    shutil.rmtree(CLASSES, ignore_errors=True)
    os.makedirs(CLASSES)
    jars = os.path.join(spark_jars(), "*")
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", jars, "scala.tools.nsc.Main",
           "-nowarn", "-d", CLASSES, "-classpath", jars] + srcs
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-4000:])
        raise SystemExit(f"perfbench: compile failed ({r.returncode})")
    with open(STAMP, "w") as f:
        f.write(digest)


if __name__ == "__main__":
    build()
