#!/usr/bin/env python3
"""Benchmark runner for the graft engine.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds the engine from ../src/main/scala together with the benchmark's own
Scala sources (sbt, build file in this directory; rebuilt only when a
source digest changes), then runs one workload in a single local-mode
Spark JVM and relays its report. The last line of standard output is the
result object: {"correct", "attempted", "failed", "metrics"}, with the
metrics that ../BENCHMARK.json declares.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
ENGINE = os.path.join(ROOT, "src", "main", "scala")
BUILD = os.path.join(HERE, ".build")
CLASSES = os.path.join(BUILD, "target", "scala-2.13", "classes")
WORKLOADS = ("extract_table", "daily_increment")
RUN_TIMEOUT_S = 170
BASE_TIMEOUT_S = 600

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]
SBT_OFFLINE = ("-Dsbt.override.build.repos=true -Dsbt.repository.config="
               + os.path.expanduser("~/.sbt/repositories")
               + " -Dsbt.offline=true -Xmx4g")


def die(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_digest():
    """Digest of every file the build compiles or reads."""
    h = hashlib.sha256()
    files = [os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for base in (ENGINE, os.path.join(HERE, "src")):
        for d, _, names in os.walk(base):
            files += [os.path.join(d, n) for n in names if n.endswith((".scala", ".java"))]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build():
    """Compiles when the sources changed; returns the source digest."""
    digest = source_digest()
    stamp = os.path.join(BUILD, "stamp")
    if os.path.exists(stamp) and open(stamp).read() == digest and os.path.isdir(CLASSES):
        return digest
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    env.setdefault("SBT_OPTS", SBT_OFFLINE)
    t0 = time.time()
    r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "clean", "compile"],
                       cwd=HERE, env=env, stdout=sys.stderr, stderr=sys.stderr)
    if r.returncode != 0:
        die("build failed")
    with open(stamp, "w") as fh:
        fh.write(digest)
    print(f"perfbench: built in {time.time() - t0:.1f}s", file=sys.stderr)
    return digest


def driver_mem():
    """Heap for the one local-mode JVM: half of MemTotal, clamped to 2..8 GiB."""
    try:
        with open("/proc/meminfo") as fh:
            kb = next(int(l.split()[1]) for l in fh if l.startswith("MemTotal:"))
        g = kb // 2097152
    except (OSError, StopIteration, ValueError):
        g = 2
    return f"{min(8, max(2, g))}g"


def run_jvm(main_class, args, work, timeout_s, props=()):
    """Runs `main_class` in one local-mode JVM with a fresh `work` directory
    (removed afterwards); returns (exit code, stdout lines)."""
    cpus = str(len(os.sched_getaffinity(0)))
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    env = dict(os.environ, SPARK_GRAFT_CPUS=cpus,
               SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"))
    cmd = (["java"] + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + [f"-Xmx{driver_mem()}", "-XX:+UseParallelGC",
              "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
              f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}"]
           + [f"-D{k}={v}" for k, v in props]
           + ["-cp", CLASSES + os.pathsep + os.path.join(os.environ["SPARK_HOME"], "jars", "*"),
              main_class] + [str(a) for a in args])
    proc = subprocess.Popen(cmd, env=env, stdout=subprocess.PIPE, text=True,
                            start_new_session=True)
    try:
        stdout, _ = proc.communicate(timeout=timeout_s)
    except subprocess.TimeoutExpired:
        stdout = ""
        print(f"perfbench: {main_class} exceeded {timeout_s}s", file=sys.stderr)
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
        shutil.rmtree(work, ignore_errors=True)
    return proc.returncode, stdout.splitlines()


def daily_base(digest):
    """The daily-increment base for this source digest, built on first use."""
    name = f"base-{digest[:16]}"
    base = os.path.join(BUILD, name)
    if os.path.exists(os.path.join(base, "DONE")):
        return base
    for old in os.listdir(BUILD):
        if old.startswith("base-"):
            shutil.rmtree(os.path.join(BUILD, old), ignore_errors=True)
    t0 = time.time()
    code, lines = run_jvm("graft.perfbench.Base", [base], base + ".work", BASE_TIMEOUT_S)
    for l in lines:
        print(l, file=sys.stderr)
    if code != 0:
        shutil.rmtree(base, ignore_errors=True)
        die("building the daily-increment base failed")
    print(f"perfbench: daily-increment base built in {time.time() - t0:.1f}s", file=sys.stderr)
    return base


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not os.path.isdir(os.path.join(ENGINE, "graft")):
        die(f"engine sources not found at {os.path.relpath(ENGINE)}")
    if not os.environ.get("SPARK_HOME") or not os.path.isdir(
            os.path.join(os.environ["SPARK_HOME"], "jars")):
        die("SPARK_HOME must point at a Spark install")
    digest = build()
    # one-time work (compile, daily-increment base) lands in the first run
    # of a checkout, whichever workload it is
    props = [("perfbench.spec", os.path.join(ROOT, "BENCHMARK.json")),
             ("perfbench.goldens", os.path.join(HERE, "goldens.json")),
             ("perfbench.base", daily_base(digest))]

    work = os.path.join(HERE, ".work", f"{args.workload}-{args.seed}-{os.getpid()}")
    code, lines = run_jvm("graft.perfbench.Main",
                          [args.workload, args.seed, args.seconds, args.trace, work,
                           os.path.join(HERE, ".out")], work, RUN_TIMEOUT_S, props)
    for l in lines[:-1]:
        print(l)
    if code != 0 or not lines:
        die(f"workload {args.workload} failed (exit {code})")
    result = json.loads(lines[-1])
    print(json.dumps(result))


if __name__ == "__main__":
    main()
