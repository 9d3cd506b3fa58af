#!/usr/bin/env python3
"""Build file of the benchmark: compiles the engine (src/main/scala) and the
benchmark harness (perfbench/src) with the Scala compiler that ships in the
Spark distribution, into the build directory of the checkout.

Each output directory is keyed by a hash of its sources, so an unchanged
tree is built once and reused; a changed file rebuilds. No network, no sbt.

Usage: python3 perfbench/build.py      (prints the run classpath)
"""
import hashlib
import os
import re
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
MAIN_SRC = os.path.join(ROOT, "src", "main", "scala")
MAIN_RES = os.path.join(ROOT, "src", "main", "resources")
BENCH_SRC = os.path.join(HERE, "src")


class BuildError(Exception):
    pass


def spark_jars():
    """$SPARK_HOME/jars, else the jar directory the sbt build compiles
    against (its `unmanagedBase`)."""
    if os.environ.get("SPARK_HOME"):
        return os.path.join(os.environ["SPARK_HOME"], "jars")
    try:
        with open(os.path.join(ROOT, "build.sbt")) as f:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    except OSError:
        return ""
    return m.group(1) if m else ""


def build_dir():
    d = os.environ.get("CARGO_TARGET_DIR") or ".bench_build"
    return d if os.path.isabs(d) else os.path.join(ROOT, d)


def sources(d):
    out = []
    for base, _, files in os.walk(d):
        out += [os.path.join(base, f) for f in files if f.endswith(".scala")]
    return sorted(out)


def stamp(files, extra=""):
    h = hashlib.sha256(extra.encode())
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()[:20]


def compile_into(out, files, classpath, spark_cp):
    if os.path.isdir(out):
        return
    tmp = f"{out}.tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    cmd = ["java", "-Xss8m", "-Xmx3g", "-XX:-UsePerfData",
           "-cp", spark_cp, "scala.tools.nsc.Main",
           "-nowarn", "-d", tmp, "-classpath", classpath] + files
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        raise BuildError(f"scalac failed for {out}:\n{r.stdout[-4000:]}")
    try:
        os.rename(tmp, out)
    except OSError:  # a concurrent build finished first
        shutil.rmtree(tmp, ignore_errors=True)


def ensure():
    """Build what is missing; return the classpath to run the harness."""
    main_files = sources(MAIN_SRC)
    bench_files = sources(BENCH_SRC)
    jars = spark_jars()
    if not main_files or not bench_files or not os.path.isdir(jars):
        raise BuildError("engine sources, harness sources or Spark jars not found")
    spark_cp = os.path.join(jars, "*")
    bdir = build_dir()
    os.makedirs(bdir, exist_ok=True)
    main_stamp = stamp(main_files)
    main_out = os.path.join(bdir, "main-" + main_stamp)
    compile_into(main_out, main_files, spark_cp, spark_cp)
    bench_out = os.path.join(bdir, "bench-" + stamp(bench_files, main_stamp))
    compile_into(bench_out, bench_files, main_out + os.pathsep + spark_cp, spark_cp)
    return os.pathsep.join([bench_out, main_out, MAIN_RES, spark_cp])


if __name__ == "__main__":
    try:
        print(ensure())
    except BuildError as e:
        print(f"build: {e}", file=sys.stderr)
        sys.exit(2)
