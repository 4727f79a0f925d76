"""Builds the graft library and the benchmark harness from source.

Usage: python3 perfbench/build.py  (prints the classpath it built)

Compiles `src/main/scala` and then `perfbench/src` with the Scala
compiler that ships among the Spark jars, into `.bench_build/` at the
root of the checkout. A build is keyed by a hash of every source file,
so an unchanged tree is built once and reused. No build tool runs and
nothing is written outside the checkout.
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)
OUT = os.path.join(ROOT, ".bench_build")


def spark_jars():
    """`$SPARK_HOME/jars`, or else the jars of the first Spark installation
    whose `bin/spark-submit` is on the PATH."""
    homes = [os.environ.get("SPARK_HOME", "")] + [
        os.path.dirname(os.path.realpath(d)) for d in os.environ.get("PATH", "").split(os.pathsep)
        if os.path.isfile(os.path.join(d, "spark-submit"))]
    for home in filter(None, homes):
        jars = os.path.join(home, "jars")
        if glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
            return os.path.join(jars, "*")
    raise SystemExit("perfbench: no Spark installation with a Scala compiler among its jars")


def sources(root):
    return sorted(glob.glob(os.path.join(root, "**", "*.scala"), recursive=True))


def _scalac(jars, classpath, out, srcs):
    os.makedirs(out)
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", jars, "scala.tools.nsc.Main",
           "-nowarn", "-d", out, "-classpath", classpath] + srcs
    subprocess.run(cmd, check=True, stdout=sys.stderr)


def build():
    """Returns the classpath (library, harness, Spark jars)."""
    main_src = os.path.join(ROOT, "src", "main", "scala")
    if not os.path.isdir(main_src):
        raise SystemExit(f"perfbench: no graft sources at {main_src}")
    lib, bench = sources(main_src), sources(os.path.join(BENCH_DIR, "src"))
    h = hashlib.sha256()
    for p in lib + bench:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    target = os.path.join(OUT, "classes", h.hexdigest()[:16])
    jars = spark_jars()
    classpath = os.pathsep.join([os.path.join(target, "bench"), os.path.join(target, "lib"), jars])
    if os.path.exists(os.path.join(target, "ok")):
        return classpath
    shutil.rmtree(os.path.join(OUT, "classes"), ignore_errors=True)
    tmp = target + ".tmp"
    _scalac(jars, jars, os.path.join(tmp, "lib"), lib)
    _scalac(jars, os.pathsep.join([os.path.join(tmp, "lib"), jars]), os.path.join(tmp, "bench"), bench)
    os.rename(tmp, target)
    open(os.path.join(target, "ok"), "w").close()
    return classpath


if __name__ == "__main__":
    print(build())
