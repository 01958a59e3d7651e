#!/usr/bin/env python3
"""Build file of the benchmark: compiles graft (src/main/scala) and the
harness (perfbench/scala) in one scalac run, with the Scala compiler and
the Spark jars of the local Spark install (SPARK_HOME, or the install
whose spark-submit is on PATH). No dependency resolution and no sbt: the
output is keyed by a hash of the sources and reused while they are
unchanged.

    python3 perfbench/build.py      # prints the classes directory
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def spark_jars():
    """jars/ of SPARK_HOME, else of the first Spark install on PATH."""
    homes = [os.environ.get("SPARK_HOME", "")] + [
        os.path.dirname(os.path.realpath(d))
        for d in os.environ.get("PATH", "").split(os.pathsep)
        if os.path.exists(os.path.join(d, "spark-submit"))]
    for home in filter(None, homes):
        jars = os.path.join(home, "jars")
        if glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
            return jars
    sys.exit("perfbench: no Spark install with a Scala compiler found "
             "(set SPARK_HOME)")


def classpath(classes):
    return f"{classes}:{os.path.join(spark_jars(), '*')}"


def sources(root):
    main = sorted(glob.glob(os.path.join(root, "src/main/scala/**/*.scala"),
                            recursive=True))
    bench = sorted(glob.glob(os.path.join(HERE, "scala", "*.scala")))
    res = sorted(glob.glob(os.path.join(root, "src/main/resources/*")))
    return main + bench, res


def ensure(root, out):
    """Return a classes directory built from the current sources."""
    srcs, res = sources(root)
    if not srcs:
        sys.exit("perfbench: no Scala sources found")
    h = hashlib.sha256()
    for p in srcs + res:
        h.update(os.path.relpath(p, root).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    classes = os.path.join(out, "classes-" + h.hexdigest()[:16])
    if os.path.exists(os.path.join(classes, "BUILD_OK")):
        return classes
    for stale in glob.glob(os.path.join(out, "classes-*")):
        shutil.rmtree(stale, ignore_errors=True)
    tmp = classes + ".tmp"
    os.makedirs(tmp)
    cmd = ["java", "-Xss8m", "-Xmx3g", "-XX:-UsePerfData", "-cp",
           os.path.join(spark_jars(), "*"), "scala.tools.nsc.Main",
           "-usejavacp", "-nowarn", "-d", tmp] + srcs
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                       text=True, timeout=800)
    if r.returncode != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        sys.exit("perfbench: compile failed\n" + r.stdout[-4000:])
    for p in res:
        shutil.copy(p, tmp)
    open(os.path.join(tmp, "BUILD_OK"), "w").close()
    os.rename(tmp, classes)
    return classes


if __name__ == "__main__":
    print(ensure(os.path.dirname(HERE), os.path.join(os.path.dirname(HERE), ".bench_build")))
