#!/usr/bin/env python3
"""Wire benchmark of the broker: build from source, run one workload.

    python3 wirebench/run.py --workload log_mixed --seed 1 --seconds 40 --trace 0

Run from the repository root. The first run compiles the program
(src/main/scala) and the benchmark (wirebench/src) with the Scala
compiler that ships in Spark's jars, into .bench_build/wirebench; later
runs reuse the classes while the sources are unchanged. The last line
of standard output is the result JSON; the line before it carries the
run's details (sample counts, host health, seed). Reports and, for
traced runs, spans are written under .bench_build/wirebench/out.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
BUILD = os.path.join(ROOT, ".bench_build", "wirebench")
PROGRAM_SRC = os.path.join(ROOT, "src", "main", "scala")
PROGRAM_RES = os.path.join(ROOT, "src", "main", "resources")
BENCH_SRC = os.path.join(HERE, "src", "main", "scala")
WORKLOADS = ("log_mixed", "lake_cdc")
RUN_TIMEOUT_S = 170

# Spark on JDK 17 needs these outside spark-submit (the same list
# org.apache.spark.launcher.JavaModuleOptions carries).
ADD_OPENS = [
    arg
    for pkg in ("java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
                "java.net", "java.nio", "java.util", "java.util.concurrent",
                "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
                "sun.security.action", "sun.util.calendar")
    for arg in ("--add-opens", f"java.base/{pkg}=ALL-UNNAMED")
]


def fail(msg):
    print(f"wirebench: {msg}", file=sys.stderr)
    sys.exit(2)


def java():
    home = os.environ.get("JAVA_HOME")
    exe = os.path.join(home, "bin", "java") if home else shutil.which("java")
    if not exe or not os.path.exists(exe):
        fail("no java on PATH or under JAVA_HOME")
    return exe


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home and shutil.which("spark-submit"):
        home = os.path.dirname(os.path.dirname(os.path.realpath(shutil.which("spark-submit"))))
    jars = os.path.join(home or "", "jars")
    if not glob.glob(os.path.join(jars, "spark-core_*.jar")):
        fail("Spark jars not found (set SPARK_HOME)")
    return jars


def scala_sources(d):
    return sorted(glob.glob(os.path.join(d, "**", "*.scala"), recursive=True))


def build(jars):
    """Compile program + benchmark once per source state; return the classes dir."""
    program = scala_sources(PROGRAM_SRC)
    bench = scala_sources(BENCH_SRC)
    if not program or not bench:
        fail(f"program sources not found under {PROGRAM_SRC}; run from the repository root")
    resources = sorted(f for f in glob.glob(os.path.join(PROGRAM_RES, "**", "*"), recursive=True)
                       if os.path.isfile(f))
    h = hashlib.sha256()
    for f in program + bench + resources:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    stamp = h.hexdigest()
    classes = os.path.join(BUILD, "classes")
    stamp_file = os.path.join(BUILD, "classes.sha256")
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return classes

    def jar(name):
        found = glob.glob(os.path.join(jars, f"{name}-2.13.*.jar"))
        if not found:
            fail(f"{name} 2.13 jar not found in {jars}")
        return found[0]

    staging = classes + ".tmp"
    shutil.rmtree(staging, ignore_errors=True)
    os.makedirs(staging)
    t0 = time.time()
    cmd = [java(), "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp",
           os.pathsep.join(jar(n) for n in ("scala-compiler", "scala-library", "scala-reflect")),
           "scala.tools.nsc.Main", "-nowarn", "-Ybackend-parallelism", str(min(4, os.cpu_count() or 1)),
           "-cp", os.path.join(jars, "*"), "-d", staging] + program + bench
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-8000:])
        fail("compilation failed")
    for f in resources:
        dst = os.path.join(staging, os.path.relpath(f, PROGRAM_RES))
        os.makedirs(os.path.dirname(dst), exist_ok=True)
        shutil.copyfile(f, dst)
    shutil.rmtree(classes, ignore_errors=True)
    os.rename(staging, classes)
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    print(f"wirebench: built in {time.time() - t0:.1f} s", file=sys.stderr)
    return classes


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    jars = spark_jars()
    classes = build(jars)
    logs = os.path.join(BUILD, "logs")
    tmp = os.path.join(BUILD, "tmp")
    for d in (logs, tmp):
        os.makedirs(d, exist_ok=True)
    log_path = os.path.join(logs, f"{a.workload}-seed{a.seed}-trace{a.trace}.log")
    # C1 only: it reaches steady speed within the warm-up, where C2's
    # late compilations made a window's speed depend on when they landed
    cmd = [java(), "-XX:-UsePerfData", "-XX:TieredStopAtLevel=1", "-XX:ReservedCodeCacheSize=512m",
           "-Xms1536m", "-Xmx1536m", *ADD_OPENS, f"-Djava.io.tmpdir={tmp}",
           "-cp", os.pathsep.join([classes, os.path.join(jars, "*")]),
           "wirebench.Main", "--workload", a.workload, "--seed", str(a.seed),
           "--seconds", str(a.seconds), "--trace", str(a.trace)]
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=log, text=True, cwd=ROOT)
        try:
            stdout, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            fail(f"run exceeded {RUN_TIMEOUT_S} s; log: {log_path}")
    lines = stdout.strip().splitlines()
    try:
        result = json.loads(lines[-1])
        assert set(result) == {"correct", "attempted", "failed", "metrics"}
    except (IndexError, ValueError, AssertionError):
        with open(log_path) as fh:
            sys.stderr.write(fh.read()[-8000:])
        fail(f"no result (exit {proc.returncode}); log: {log_path}")
    print("\n".join(lines))
    sys.exit(0 if proc.returncode == 0 and result["correct"] else 1)


if __name__ == "__main__":
    main()
