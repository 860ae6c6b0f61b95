#!/usr/bin/env python3
"""Builds graft and the benchmark harness from source.

Compiles the repository's Scala sources (src/main/scala) together with the
harness (perfbench/src) in one scalac run, using the Scala compiler and the
Spark jars of the local Spark installation ($SPARK_HOME/jars, or the jars
next to `spark-submit` on PATH), as the repository's build.sbt does.
Output goes to .bench_build/classes under the checkout root. A build whose
sources and jars are unchanged is reused.

Usage, from the root of a checkout:  python3 perfbench/build.py
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

BUILD_DIR = ".bench_build"


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = os.path.join(home or "", "jars")
    if not home or not glob.glob(os.path.join(jars, "spark-core_*.jar")):
        raise SystemExit("build: no Spark installation found (set SPARK_HOME)")
    return jars


def java():
    home = os.environ.get("JAVA_HOME")
    return os.path.join(home, "bin", "java") if home else "java"


def sources(root):
    main = os.path.join(root, "src", "main", "scala")
    bench = os.path.join(root, "perfbench", "src")
    if not os.path.isdir(main):
        raise SystemExit(f"build: {main} is missing; run from the root of a graft checkout")
    found = []
    for base in (main, bench):
        for d, _, files in os.walk(base):
            found += [os.path.join(d, f) for f in files if f.endswith(".scala")]
    return sorted(found)


def stamp(srcs, jars):
    h = hashlib.sha256()
    for p in srcs:
        h.update(p.encode())
        with open(p, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    for j in sorted(os.listdir(jars)):
        h.update(j.encode())
    return h.hexdigest()


def build(root):
    """Returns the compiled classes directory, compiling first if needed."""
    jars = spark_jars()
    srcs = sources(root)
    out = os.path.join(root, BUILD_DIR, "classes")
    want = stamp(srcs, jars)
    stamp_file = os.path.join(out, "BUILD_STAMP")
    if os.path.exists(stamp_file) and open(stamp_file).read() == want:
        return out
    compiler = [glob.glob(os.path.join(jars, f"scala-{n}-2.*.jar")) for n in ("compiler", "library", "reflect")]
    if not all(compiler):
        raise SystemExit(f"build: no Scala compiler jars in {jars}")
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    argfile = os.path.join(root, BUILD_DIR, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(srcs) + "\n")
    cmd = [java(), "-Xss8m", "-Xmx2g", "-XX:-UsePerfData",
           "-cp", os.pathsep.join(c[0] for c in compiler), "scala.tools.nsc.Main",
           "-nowarn", "-d", tmp, "-classpath", os.path.join(jars, "*"), "@" + argfile]
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout)
        raise SystemExit(f"build: scalac failed with exit code {r.returncode}")
    with open(os.path.join(tmp, "BUILD_STAMP"), "w") as f:
        f.write(want)
    shutil.rmtree(out, ignore_errors=True)
    os.rename(tmp, out)
    return out


if __name__ == "__main__":
    print(build(os.getcwd()))
