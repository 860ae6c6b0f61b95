#!/usr/bin/env python3
"""graft benchmark: one run of one workload.

Usage, from the root of a checkout:
  python3 perfbench/run.py --workload <tiling|pages_join|gates> --seed <n> \
      --seconds <s> --trace <0|1>

Builds graft from source (perfbench/build.py), generates the workload's
inputs from the seed inside .bench_build/work, and runs the benchmark JVM
(graftbench.Main) at local[nproc] with a heap sized from MemTotal. The last
line of standard output is one JSON object with the keys correct,
attempted, failed and metrics. The exit code is 0 only when every pass was
checked correct. The traced run (--trace 1) also writes its spans and
layer numbers to .bench_build/traces/.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import build  # noqa: E402

WORKLOADS = ("tiling", "pages_join", "gates")
# gates read fixed tables: the repository's own generator at a fixed seed
GATES_SEED, GATES_SF = 42, "0.1"
# room for two SRTM3 grids (the engine estimates 7.2 MB each)
GRID_CACHE_MB = "16"
# each run must end within this many seconds after the build
RUN_LIMIT_S = 175
# JDK 17 module opens that Spark needs outside spark-submit (as in build.sbt)
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def host_cores():
    return len(os.sched_getaffinity(0))


def heap_mb():
    """A quarter of MemTotal, between 1 and 6 GB: the host is shared."""
    with open("/proc/meminfo") as f:
        kb = next(int(line.split()[1]) for line in f if line.startswith("MemTotal:"))
    return max(1024, min(6144, kb // 4096))


def main():
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, type=int, choices=(0, 1))
    a = ap.parse_args()

    root = os.getcwd()
    classes = build.build(root)
    t_start = time.monotonic()
    bdir = os.path.join(root, build.BUILD_DIR)
    work = os.path.join(bdir, "work")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    traces = os.path.join(bdir, "traces")
    os.makedirs(traces, exist_ok=True)

    jvm_args = ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
                "--trace", str(a.trace), "--work", work, "--cores", str(host_cores()),
                "--bench-dir", HERE,
                "--trace-out", os.path.join(traces, f"{a.workload}-seed{a.seed}.json")]
    try:
        if a.workload == "gates":
            sf = os.path.join(work, "sf")
            t0 = time.monotonic()
            subprocess.run([sys.executable, os.path.join(root, "tools", "gen_sf.py"), sf,
                            str(GATES_SEED), GATES_SF], check=True, stdout=subprocess.DEVNULL)
            jvm_args += ["--sf", sf, "--pre-setup-s", repr(time.monotonic() - t0)]
        cmd = [build.java()] + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")] + [
            f"-Xmx{heap_mb()}m", "-XX:+UseParallelGC", "-XX:-UsePerfData",
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
            f"-Dderby.system.home={work}",
            f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}",
            "-cp", os.pathsep.join([classes, os.path.join(build.spark_jars(), "*")]),
            "graftbench.Main"] + jvm_args
        # tiling gives each pass fresh input paths; a small grid cache keeps
        # the grids of earlier passes from piling up in the heap
        env = dict(os.environ, SPARK_GRAFT_GRID_CACHE_MB=GRID_CACHE_MB)
        proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, text=True, env=env)
        try:
            out, _ = proc.communicate(timeout=max(10.0, RUN_LIMIT_S - (time.monotonic() - t_start)))
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            sys.exit("run: the benchmark JVM exceeded its time limit")
        lines = out.rstrip("\n").split("\n")
        result = json.loads(lines[-1]) if lines and lines[-1].startswith("{") else None
        if result is None or set(result) != {"correct", "attempted", "failed", "metrics"}:
            sys.stdout.write(out)
            sys.exit(f"run: the benchmark JVM exited with {proc.returncode} and no result")
        sys.stdout.write("\n".join(lines[:-1] + [json.dumps(result)]) + "\n")
        sys.exit(0 if proc.returncode == 0 and result["correct"] else 1)
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
