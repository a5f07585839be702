#!/usr/bin/env python3
"""Build file of the benchmark package.

Compiles the program (src/main/scala) together with the benchmark's own
sources (perfbench/src) with the Scala compiler that ships in Spark's jars
directory, into <build dir>/perfbench/classes. A stamp over every source
and resource file skips the compile when nothing changed.

    python3 perfbench/build.py        # from the repository root
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PROGRAM_SRC = os.path.join(ROOT, "src", "main", "scala")
RESOURCES = os.path.join(ROOT, "src", "main", "resources")
BENCH_SRC = os.path.join(HERE, "src")


class BuildError(Exception):
    pass


def build_root():
    """Build outputs go to $CARGO_TARGET_DIR (the shared build dir of a
    checkout) or to .bench_build at the repository root."""
    d = os.environ.get("CARGO_TARGET_DIR") or ".bench_build"
    return os.path.join(ROOT, d) if not os.path.isabs(d) else d


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = os.path.join(home, "jars") if home else None
    if not jars or not glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
        raise BuildError("Spark jars with scala-compiler not found: set SPARK_HOME")
    return jars


def java():
    home = os.environ.get("JAVA_HOME")
    exe = os.path.join(home, "bin", "java") if home else shutil.which("java")
    if not exe or not os.path.exists(exe):
        raise BuildError("java not found: set JAVA_HOME")
    return exe


def sources():
    if not os.path.isdir(PROGRAM_SRC):
        raise BuildError("program sources not found at src/main/scala: "
                         "run from a full checkout of the repository")
    files = sorted(glob.glob(os.path.join(PROGRAM_SRC, "**", "*.scala"), recursive=True))
    files += sorted(glob.glob(os.path.join(BENCH_SRC, "**", "*.scala"), recursive=True))
    return files


def classes_dir():
    return os.path.join(build_root(), "perfbench", "classes")


def classpath():
    return os.pathsep.join([classes_dir(), RESOURCES, os.path.join(spark_jars(), "*")])


def build(log=sys.stderr):
    """Compiles if any input changed; returns the runtime classpath."""
    files = sources()
    jars = spark_jars()
    h = hashlib.sha256()
    resources = sorted(glob.glob(os.path.join(RESOURCES, "**", "*"), recursive=True))
    for f in [os.path.abspath(__file__)] + files + resources:
        if os.path.isfile(f):
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(hashlib.sha256(fh.read()).digest())
    h.update(" ".join(sorted(os.path.basename(j) for j in glob.glob(os.path.join(jars, "scala-*.jar")))).encode())
    stamp = h.hexdigest()
    out = classes_dir()
    stamp_file = os.path.join(os.path.dirname(out), "stamp")
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return classpath()
    print(f"[perfbench] compiling {len(files)} Scala files", file=log, flush=True)
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    argfile = os.path.join(os.path.dirname(out), "sources.txt")
    with open(argfile, "w") as fh:
        fh.write("\n".join(files))
    cmd = [java(), "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", os.path.join(jars, "*"),
           "scala.tools.nsc.Main", "-usejavacp", "-nowarn", "-Ybackend-parallelism", "4",
           "-d", out, "@" + argfile]
    r = subprocess.run(cmd, stdout=log, stderr=log, timeout=800)
    if r.returncode != 0:
        raise BuildError(f"scalac exited with {r.returncode}")
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    return classpath()


if __name__ == "__main__":
    try:
        build(sys.stdout)
    except BuildError as e:
        print(f"[perfbench] build failed: {e}", file=sys.stderr)
        sys.exit(2)
