"""Build file of the benchmark: compiles the library sources and the
benchmark's own sources into one class directory with the Scala compiler
that ships with Spark. No sbt, no dependency resolution: the classpath is
the Spark distribution's jar directory.

A stamp over every source file makes repeated builds a no-op; the compile
goes to a scratch directory that is renamed into place, so an interrupted
build never leaves a half-written class tree behind.
"""
import fcntl
import hashlib
import os
import shutil
import subprocess
import sys

LIB_SOURCES = "src/main/scala"
LIB_RESOURCES = "src/main/resources"
BENCH_SOURCES = "perfbench/src"
BUILD_DIR = ".bench_build"


def spark_jars():
    """The Spark distribution's jar directory: $SPARK_HOME/jars, else the
    installation that owns `spark-submit` on PATH."""
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = os.path.join(home or "", "jars")
    if not home or not os.path.isdir(jars):
        raise SystemExit("perfbench: no Spark installation (set SPARK_HOME)")
    return jars


def _sources(root):
    out = []
    for d, _, files in os.walk(os.path.join(root, LIB_SOURCES)):
        out += [os.path.join(d, f) for f in files if f.endswith(".scala")]
    for d, _, files in os.walk(os.path.join(root, BENCH_SOURCES)):
        out += [os.path.join(d, f) for f in files if f.endswith(".scala")]
    return sorted(out)


def _stamp(sources):
    h = hashlib.sha256()
    for path in sources:
        h.update(path.encode())
        with open(path, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()


def build(root):
    """Compile if the sources changed; return the runtime classpath."""
    if not os.path.isdir(os.path.join(root, LIB_SOURCES, "graft")):
        raise SystemExit("perfbench: library sources not found under " + LIB_SOURCES)
    jars = spark_jars()
    build_dir = os.path.join(root, BUILD_DIR)
    classes = os.path.join(build_dir, "classes")
    classpath = os.pathsep.join(
        [classes, os.path.join(root, LIB_RESOURCES), os.path.join(jars, "*")])
    os.makedirs(build_dir, exist_ok=True)
    with open(os.path.join(build_dir, "build.lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        sources = _sources(root)
        stamp = _stamp(sources)
        stamp_file = os.path.join(classes, "STAMP")
        if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
            return classpath
        fresh = classes + ".new"
        shutil.rmtree(fresh, ignore_errors=True)
        os.makedirs(fresh)
        argfile = os.path.join(build_dir, "sources.txt")
        with open(argfile, "w") as f:
            f.write("\n".join(sources) + "\n")
        cmd = ["java", "-Xss16m", "-Xmx2g", "-XX:-UsePerfData", "-cp", os.path.join(jars, "*"),
               "scala.tools.nsc.Main", "-usejavacp", "-nowarn", "-d", fresh,
               "@" + argfile]
        done = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr, timeout=840)
        if done.returncode != 0:
            shutil.rmtree(fresh, ignore_errors=True)
            raise SystemExit("perfbench: compile failed")
        with open(os.path.join(fresh, "STAMP"), "w") as f:
            f.write(stamp)
        shutil.rmtree(classes, ignore_errors=True)
        os.rename(fresh, classes)
    return classpath


if __name__ == "__main__":
    print(build(os.getcwd()))
