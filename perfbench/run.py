#!/usr/bin/env python3
"""Run one benchmark workload and print its result as one JSON line.

    python3 perfbench/run.py --workload article_stream --seed 1 --seconds 10 --trace 0

Run from the repository root. The first run builds the harness and the
engine from source with sbt (offline, against the Spark jars of the image)
and caches the classpath under perfbench/target; later runs start the JVM
directly. Each run gets a fresh scratch root under perfbench/.work that is
deleted afterwards; traced runs leave their spans in perfbench/out.

The last line of standard output is
    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}
with the end-to-end metrics of BENCHMARK.json (--trace 0) or its per-layer
metrics (--trace 1).
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
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")
CLASSPATH_FILE = os.path.join(HERE, "target", "perfbench-classpath.txt")
WORKLOADS = ("article_stream", "snapshot_ingest")
RUN_TIMEOUT_S = 170  # a run must end within 180 s
BUILD_TIMEOUT_S = 800
JVM_HEAP = "2g"

# Spark on JDK 17 outside spark-submit needs the module openings that
# spark-submit would add (org.apache.spark.launcher.JavaModuleOptions).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def die(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


CHILD = None  # the process this launcher is waiting on


def stop_child(signum, _frame):
    """Stop the child before exiting, so no JVM outlives the launcher."""
    if CHILD is not None and CHILD.poll() is None:
        CHILD.kill()
        CHILD.wait()
    sys.exit(128 + signum)


def run_child(cmd, timeout, **kw):
    """Run `cmd` to completion (both sbt and the benchmark JVM are a single
    process); kill it and fail if it outlives `timeout` seconds."""
    global CHILD
    CHILD = subprocess.Popen(cmd, stdout=subprocess.PIPE, text=True, **kw)
    try:
        out, _ = CHILD.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        CHILD.kill()
        CHILD.wait()
        die(f"{os.path.basename(cmd[0])} exceeded {timeout} s")
    return CHILD.returncode, out


def source_digest():
    """Hash of every file the build reads, so a changed source rebuilds."""
    h = hashlib.sha256()
    roots = [ENGINE_SRC, os.path.join(HERE, "src"), os.path.join(HERE, "project")]
    files = [os.path.join(HERE, "build.sbt")]
    for r in roots:
        for d, dirs, names in os.walk(r):
            dirs[:] = sorted(x for x in dirs if x not in ("target", "project"))
            files += [os.path.join(d, n) for n in sorted(names)]
    for f in files:
        if os.path.isfile(f):
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def build():
    """Compile with sbt once per source state; return the runtime classpath."""
    digest = source_digest()
    if os.path.exists(CLASSPATH_FILE):
        with open(CLASSPATH_FILE) as fh:
            stamp, cp = fh.read().split("\n", 1)
        if stamp == digest:
            return cp.strip()
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    env.setdefault("SBT_OPTS", "-Dsbt.override.build.repos=true "
                   "-Dsbt.repository.config=" + os.path.expanduser("~/.sbt/repositories") +
                   " -Dsbt.offline=true -Xmx2g")
    print("perfbench: building with sbt", file=sys.stderr)
    try:
        code, out = run_child(
            ["sbt", "-batch", "-Dsbt.log.noformat=true", "compile", "export Runtime/fullClasspath"],
            BUILD_TIMEOUT_S, cwd=HERE, env=env, stderr=subprocess.STDOUT)
    except OSError as e:
        die(f"build failed: {e}")
    lines = out.splitlines()
    cp = [l for l in lines if ".jar" in l and not l.startswith("[")]
    if code != 0 or not cp:
        sys.stderr.write("\n".join(lines[-40:]) + "\n")
        die("build failed")
    os.makedirs(os.path.dirname(CLASSPATH_FILE), exist_ok=True)
    with open(CLASSPATH_FILE, "w") as fh:
        fh.write(digest + "\n" + cp[-1].strip())
    return cp[-1].strip()


def metric_names(trace):
    """The metrics BENCHMARK.json defines for this run."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    return [m["name"] for m in spec["per_layer" if trace else "end_to_end"]]


def main():
    signal.signal(signal.SIGTERM, stop_child)
    signal.signal(signal.SIGINT, stop_child)
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, type=int, choices=(0, 1))
    ap.add_argument("--corrupt", help="inject a named defect (the benchmark's own tests)")
    args = ap.parse_args()
    if args.seconds < 1:
        die("--seconds must be at least 1")
    if not os.path.isdir(os.path.join(ENGINE_SRC, "graft")):
        die(f"engine sources not found under {ENGINE_SRC}")
    wanted = metric_names(args.trace)

    cp = build()
    cpus = len(os.sched_getaffinity(0))
    work = os.path.join(HERE, ".work", f"{args.workload}-{args.seed}-{os.getpid()}")
    out = os.path.join(HERE, "out")
    shutil.rmtree(work, ignore_errors=True)
    for d in ("tmp", "spark-local"):
        os.makedirs(os.path.join(work, d))
    # the whole heap is made resident at start, so the peak RSS does not
    # depend on how much of it one run's garbage happened to touch
    cmd = ["java", f"-Xms{JVM_HEAP}", f"-Xmx{JVM_HEAP}", "-XX:+AlwaysPreTouch"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += [
        f"-Djava.io.tmpdir={work}/tmp",
        "-Dspark.ui.enabled=false",
        f"-Dspark.local.dir={work}/spark-local",
        "-cp", cp, "perfbench.Main",
        "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", str(args.trace),
        "--work", work, "--out", out, "--cpus", str(cpus),
        "--launched-at-ms", str(int(time.time() * 1000)),
    ]
    if args.corrupt:
        cmd += ["--corrupt", args.corrupt]
    log_path = os.path.join(work, "jvm.log")
    result = None
    try:
        with open(log_path, "w") as log:
            code, stdout = run_child(cmd, RUN_TIMEOUT_S, cwd=work, stderr=log)
        with open(log_path) as fh:
            for line in fh:
                if line.startswith("[perfbench]"):
                    sys.stderr.write(line)
        for line in stdout.splitlines():
            if line.startswith("PERFBENCH_RESULT "):
                result = json.loads(line[len("PERFBENCH_RESULT "):])
            elif line.startswith("PERFBENCH_"):
                print(line, file=sys.stderr)
        if code != 0 or result is None:
            with open(log_path) as fh:
                sys.stderr.write("".join(fh.readlines()[-60:]))
            die(f"JVM exited with {code} and no result")
    finally:
        shutil.rmtree(work, ignore_errors=True)

    missing = [n for n in wanted if n not in result["metrics"]]
    if missing:
        die(f"run did not report {missing}", 3)
    extra = {k: v for k, v in result["metrics"].items() if k not in wanted}
    if extra:
        print("perfbench: other metrics " + json.dumps(extra), file=sys.stderr)
    result["metrics"] = {n: result["metrics"][n] for n in wanted}
    print(json.dumps(result))


if __name__ == "__main__":
    main()
