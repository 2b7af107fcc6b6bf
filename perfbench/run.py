#!/usr/bin/env python3
"""Build the graft benchmark harness and run one workload.

    python3 perfbench/run.py --workload catalog_paper --seed 1 --seconds 25 --trace 0
    python3 perfbench/run.py --workload all --seed 1        # every workload in turn
    python3 perfbench/run.py --test                         # the harness's own tests

Run from the root of a checkout. The harness (perfbench/src) is compiled
together with the engine's sources (src/main) by perfbench/build.sbt, and
is rebuilt whenever any of those files change. Each run gets a scratch
directory under .bench_build/ that is removed when it ends.

Prints a table of every metric with its unit, then, as the last line, one
JSON object with the keys correct, attempted, failed and metrics.
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
ENGINE = os.path.join(ROOT, "src", "main")
BUILD = os.path.join(ROOT, ".bench_build")
CLASSES = os.path.join(HERE, "target", "scala-2.13", "classes")
STAMP = os.path.join(HERE, "target", "perfbench.stamp")
BUILD_TIMEOUT_S = 850

# Spark 4 on JDK 17 outside spark-submit needs these opens (the list
# org.apache.spark.launcher.JavaModuleOptions gives).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[run.py] {msg}", file=sys.stderr, flush=True)


def benchmark_spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def source_digest():
    """Digest of every file the harness build reads."""
    h = hashlib.sha256()
    inputs = [os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for top in (os.path.join(HERE, "src"), ENGINE):
        for d, _, files in sorted(os.walk(top)):
            inputs += [os.path.join(d, f) for f in sorted(files)]
    for p in inputs:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()


def sbt(args, timeout):
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    env["SPARK_HOME"] = spark_home()
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false",
           "-Dsbt.offline=true"] + args
    os.makedirs(BUILD, exist_ok=True)
    with open(os.path.join(BUILD, "sbt.log"), "w") as out:
        p = subprocess.Popen(cmd, cwd=HERE, env=env, stdout=out, stderr=subprocess.STDOUT,
                             start_new_session=True)
        return wait(p, timeout)


def run_timeout(seconds):
    """How long one harness run may take: Spark start, set-up and
    warm-up (about 40 s on 4 cores) with room for a host twice as slow,
    plus the window."""
    return 110 + 2 * seconds


def wait(p, timeout):
    """Wait for `p`; on timeout kill its whole process group. Returns the
    exit code, or None on timeout."""
    try:
        return p.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        return None


def build():
    digest = source_digest()
    if os.path.exists(STAMP) and open(STAMP).read() == digest:
        return
    log("building the harness and the engine (sbt compile)")
    t0 = time.time()
    rc = sbt(["compile"], BUILD_TIMEOUT_S)
    if rc != 0:
        tail = open(os.path.join(BUILD, "sbt.log")).read()[-4000:]
        sys.exit(f"[run.py] build failed (exit {rc}):\n{tail}")
    with open(STAMP, "w") as f:
        f.write(digest)
    log(f"built in {time.time() - t0:.0f} s")


def spark_home():
    """SPARK_HOME, else the distribution of the first spark-submit on PATH
    that sits beside a jars/ directory (pip's pyspark launcher does not)."""
    home = os.environ.get("SPARK_HOME")
    if home:
        return home
    for d in os.environ.get("PATH", "").split(os.pathsep):
        submit = os.path.join(d, "spark-submit")
        if os.path.isfile(submit):
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
            if os.path.isdir(os.path.join(home, "jars")):
                return home
    sys.exit("[run.py] Spark not found: set SPARK_HOME")


def spark_jars():
    return os.path.join(spark_home(), "jars")


def heap_gib():
    """Half of host memory, clamped to [2, 8] GiB."""
    with open("/proc/meminfo") as f:
        kib = next(int(l.split()[1]) for l in f if l.startswith("MemTotal:"))
    return max(2, min(8, kib // (2 * 1024 * 1024)))


def run_one(workload, seed, seconds, trace):
    cores = len(os.sched_getaffinity(0))
    work = os.path.join(BUILD, f"run-{os.getpid()}-{workload}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    out = os.path.join(work, "result.json")
    cmd = ["java", f"-Xmx{heap_gib()}g", f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}"]
    for m in ADD_OPENS:
        cmd += ["--add-opens", f"{m}=ALL-UNNAMED"]
    cmd += ["-cp", CLASSES + os.pathsep + os.path.join(spark_jars(), "*"), "perfbench.Harness",
            "--workload", workload, "--seed", str(seed), "--seconds", str(seconds),
            "--trace", str(trace), "--work", work, "--cores", str(cores), "--out", out,
            "--spans", os.path.join(BUILD, f"spans-{workload}.jsonl")]
    logfile = os.path.join(BUILD, f"harness-{workload}.log")
    try:
        with open(logfile, "w") as lf:
            p = subprocess.Popen(cmd, cwd=ROOT, stdout=lf, stderr=subprocess.STDOUT,
                                 start_new_session=True)
            timeout = run_timeout(seconds)
            rc = wait(p, timeout)
        if rc is None:
            sys.exit(f"[run.py] {workload}: harness timed out after {timeout:.0f} s "
                     f"(log: {os.path.relpath(logfile, ROOT)})")
        if rc != 0 or not os.path.exists(out):
            tail = open(logfile).read()[-4000:]
            sys.exit(f"[run.py] {workload}: harness exit {rc}:\n{tail}")
        with open(out) as f:
            return json.load(f)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def table(workload, result):
    host = result["host"]
    print(f"== {workload}  seed={host['seed']}  cores={host['cores']}  "
          f"heap={host['heap_max_mib']}MiB  spark={host['spark']}  java={host['java']}")
    print(f"   attempted={result['attempted']}  failed={result['failed']}  "
          f"correct={result['correct']}")
    for name, m in result["metrics"].items():
        print(f"   {name:34s} {m['value']:>16.6f} {m['unit']}")


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--test", action="store_true", help="run the harness's own tests")
    a = ap.parse_args()

    if not os.path.isdir(os.path.join(ENGINE, "scala", "graft")):
        sys.exit(f"[run.py] engine sources not found under {ENGINE}: run from a graft checkout")
    spec = benchmark_spec()
    if a.test:
        sys.exit(0 if sbt(["test"], BUILD_TIMEOUT_S) == 0 else 1)
    if not a.workload:
        ap.error("--workload is required")
    names = [w["name"] for w in spec["workloads"]]
    chosen = names if a.workload == "all" else [a.workload]
    if any(w not in names for w in chosen):
        ap.error(f"--workload must be one of {names} or all")
    seconds = a.seconds if a.seconds else spec["run_seconds"]

    build()
    results = {}
    for w in chosen:
        r = run_one(w, a.seed, seconds, a.trace)
        table(w, r)
        results[w] = {k: r[k] for k in ("correct", "attempted", "failed", "metrics")}
    last = results[chosen[0]] if len(chosen) == 1 else results
    print(json.dumps(last), flush=True)


if __name__ == "__main__":
    main()
