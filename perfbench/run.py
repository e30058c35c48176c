#!/usr/bin/env python3
"""Run one measurement of the goka-core benchmark.

    python3 perfbench/run.py --workload replay|stream|serve --seed N \
        --seconds S --trace 0|1 --cores K --stream-rate R
        --stream-trigger-ms T

Run from the root of a checkout. The first run compiles the program and
the benchmark from source with the Scala compiler in Spark's jars; later
runs reuse the build while the sources are unchanged. Each run starts one fresh JVM with a
fixed heap, prints that JVM's diagnostics to stderr, and prints the result
as the last line of stdout: one JSON object with correct, attempted,
failed and metrics. See perfbench/README.md.
"""
import argparse
import glob
import hashlib
import os
import shutil
import signal
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build", "perfbench")
PROGRAM_SRC = os.path.join(ROOT, "src", "main", "scala")
SOURCE_ROOTS = [PROGRAM_SRC, os.path.join(HERE, "src", "main", "scala")]
SCALA_VERSION = "2.13.17"

HEAP = "2g"
JVM_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 600
# Spark on JDK 17 outside spark-submit needs these (as in the root build).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def run_group(cmd, timeout, **kw):
    """Run cmd in its own process group; on timeout kill the whole group
    and wait for it. Returns (returncode, stdout)."""
    p = subprocess.Popen(cmd, stdout=subprocess.PIPE, stdin=subprocess.DEVNULL,
                         text=True, start_new_session=True, **kw)
    try:
        out, _ = p.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.communicate()
        sys.exit("perfbench: %s exceeded %d s" % (cmd[0], timeout))
    return p.returncode, out


def spark_home():
    """SPARK_HOME, else the installation of a spark-submit on PATH."""
    homes = [os.environ.get("SPARK_HOME")] + [
        os.path.dirname(os.path.dirname(os.path.realpath(os.path.join(d, "spark-submit"))))
        for d in os.environ.get("PATH", "").split(os.pathsep)
        if os.path.isfile(os.path.join(d, "spark-submit"))]
    for home in homes:
        if home and os.path.isdir(os.path.join(home, "jars")):
            return home
    sys.exit("perfbench: no Spark installation (set SPARK_HOME)")


def source_files():
    files = []
    for r in SOURCE_ROOTS:
        for d, _, names in os.walk(r):
            files += [os.path.join(d, n) for n in names if n.endswith(".scala")]
    return sorted(files)


def classpath():
    """Compile the program and the benchmark with the Scala compiler that
    ships with Spark, unless the recorded build matches the sources and the
    Spark installation. No build tool, no dependency resolution: the build
    needs only java and Spark's jars."""
    jars_dir = os.path.join(spark_home(), "jars")
    jars = sorted(glob.glob(os.path.join(jars_dir, "*.jar")))
    sources = source_files()
    h = hashlib.sha256()
    for f in sources:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    h.update("\n".join(jars).encode())
    stamp = h.hexdigest()
    classes = os.path.join(BUILD, "classes")
    stamp_file = os.path.join(BUILD, "stamp.txt")
    cp = os.pathsep.join([classes] + jars)
    if os.path.isfile(stamp_file):
        with open(stamp_file) as fh:
            if fh.read() == stamp:
                return cp
        os.remove(stamp_file)
    shutil.rmtree(classes, ignore_errors=True)
    os.makedirs(classes)
    compiler = [os.path.join(jars_dir, "scala-%s-%s.jar" % (part, SCALA_VERSION))
                for part in ("compiler", "library", "reflect")]
    missing = [j for j in compiler if not os.path.isfile(j)]
    if missing:
        sys.exit("perfbench: Spark's jars lack %s" % ", ".join(missing))
    args_file = os.path.join(BUILD, "scalac.args")
    args = ["-nowarn", "-d", classes, "-classpath", os.pathsep.join(jars)] + sources
    with open(args_file, "w") as fh:
        fh.write("".join('"%s"\n' % a for a in args))
    tmp = os.path.join(BUILD, "tmp", "build-%d" % os.getpid())
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java", "-Xss16m", "-Xmx" + HEAP, "-XX:-UsePerfData",
           "-Djava.io.tmpdir=" + tmp, "-cp", os.pathsep.join(compiler),
           "scala.tools.nsc.Main", "@" + args_file]
    try:
        rc, out = run_group(cmd, BUILD_TIMEOUT_S, cwd=ROOT,
                            stderr=subprocess.STDOUT)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    sys.stderr.write(out)
    if rc != 0:
        sys.exit("perfbench: build failed (exit %d)" % rc)
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    return cp


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=["replay", "stream", "serve"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", choices=["0", "1"], required=True)
    # Fixed once, in BENCHMARK.json's command.
    ap.add_argument("--cores", type=int, required=True)
    ap.add_argument("--stream-rate", type=int, required=True)
    ap.add_argument("--stream-trigger-ms", type=int, required=True)
    a = ap.parse_args()
    if not os.path.isfile(os.path.join(PROGRAM_SRC, "graft", "Processor.scala")):
        sys.exit("perfbench: the program's sources (src/main/scala) are "
                 "missing; run from the root of a full checkout")

    cp = classpath()
    tmp = os.path.join(BUILD, "tmp", "run-%d" % os.getpid())
    os.makedirs(tmp, exist_ok=True)
    # A fixed, pre-touched heap: resident memory then differs between runs
    # only by what the program allocates outside the heap.
    cmd = (["java", "-Xms" + HEAP, "-Xmx" + HEAP, "-XX:+AlwaysPreTouch",
            "-XX:-UsePerfData",
            "-XX:+UseParallelGC", "-XX:ParallelGCThreads=2",
            "-Djava.io.tmpdir=" + tmp,
            "-Dlog4j2.configurationFile=" + os.path.join(HERE, "log4j2.properties")]
           + [x for p in ADD_OPENS for x in ("--add-opens", p + "=ALL-UNNAMED")]
           + ["-cp", cp, "gokabench.Main",
              "--workload", a.workload, "--seed", str(a.seed),
              "--seconds", str(a.seconds), "--trace", a.trace,
              "--cores", str(a.cores), "--stream-rate", str(a.stream_rate),
              "--stream-trigger-ms", str(a.stream_trigger_ms),
              "--tmp-dir", tmp, "--out-dir", os.path.join(HERE, "runs")])
    # Spark prefers SPARK_LOCAL_DIRS over spark.local.dir; keep the run's
    # scratch space inside the checkout.
    env = {k: v for k, v in os.environ.items() if k != "SPARK_LOCAL_DIRS"}
    try:
        rc, out = run_group(cmd, JVM_TIMEOUT_S, cwd=ROOT, env=env)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    lines = out.splitlines()
    result = [l for l in lines if l.startswith("{")]
    for l in lines:
        if not result or l is not result[-1]:
            sys.stderr.write(l + "\n")
    if rc != 0 or not result:
        sys.exit("perfbench: run failed (exit %d)" % rc)
    print(result[-1])


if __name__ == "__main__":
    main()
