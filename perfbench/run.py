#!/usr/bin/env python3
"""Run one workload of the engine's benchmark and print its result.

Usage (from the root of a checkout):

    python3 perfbench/run.py --workload daily_etl --seed 1 --seconds 10 --trace 0

Workloads: daily_etl, docstore_cdc (see perfbench/DESIGN.md).
The first call in a checkout compiles the engine and the benchmark with
sbt (perfbench/build.sbt) and caches the classpath in .bench_build/; later
calls start the JVM directly. Each run gets a fresh working directory under
.bench_build/runs/ for java.io.tmpdir, spark.local.dir, the model cache
and the warehouse, and removes it afterwards. The last line of standard
output is the result object; --trace 1 prints the per-layer metrics
instead of the end-to-end ones and writes the spans to .bench_build/traces/.
"""
import argparse
import fcntl
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
LAUNCH = os.path.join(BUILD, "launch.txt")
WORKLOADS = ("daily_etl", "docstore_cdc")
# One fixed heap for every run, so runs on machines of different sizes
# measure the same configuration.
HEAP = "3g"
RUN_TIMEOUT_S = 170


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_digest():
    """Digest of everything the build reads, so edits trigger a rebuild."""
    h = hashlib.sha256()
    tops = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
            os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt"),
            os.path.join(ROOT, "project", "build.properties"),
            os.path.join(HERE, "project", "build.properties")]
    for top in tops:
        paths = [top] if os.path.isfile(top) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(top) for f in fs)
        for p in paths:
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def build():
    """Compile once per source state; returns (classpath, jvm flags)."""
    os.makedirs(BUILD, exist_ok=True)
    stamp = os.path.join(BUILD, "launch.digest")
    with open(os.path.join(BUILD, "build.lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        digest = source_digest()
        current = os.path.exists(LAUNCH) and os.path.exists(stamp) and \
            open(stamp).read() == digest
        if not current:
            env = dict(os.environ, COURSIER_MODE="offline")
            opts = ["-Dsbt.offline=true", "-Xmx2g"]
            repos = os.path.expanduser("~/.sbt/repositories")
            if os.path.exists(repos):
                opts += ["-Dsbt.override.build.repos=true",
                         f"-Dsbt.repository.config={repos}"]
            env["SBT_OPTS"] = " ".join(opts)
            r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "writeLaunch"],
                               cwd=HERE, env=env, stdout=sys.stderr, stderr=sys.stderr)
            if r.returncode != 0 or not os.path.exists(LAUNCH):
                fail("build failed")
            with open(stamp, "w") as f:
                f.write(digest)
    lines = open(LAUNCH).read().splitlines()
    return lines[0], [l for l in lines[1:] if l]


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, choices=("0", "1"))
    a = ap.parse_args()

    if not os.path.isfile(os.path.join(ROOT, "build.sbt")):
        fail(f"no engine sources under {ROOT}; run from the root of a checkout")
    classpath, jvm_flags = build()

    cpus = str(len(os.sched_getaffinity(0)))
    # named by workload and seed only: the audit rows store table paths, so
    # a path that varied from run to run would vary the bytes written
    run_root = os.path.join(BUILD, "runs", f"{a.workload}-{a.seed}")
    os.makedirs(os.path.dirname(run_root), exist_ok=True)
    # runs of one workload and seed share that directory, so they take
    # turns: the lock is held until this process exits
    run_lock = open(run_root + ".lock", "w")
    fcntl.flock(run_lock, fcntl.LOCK_EX)
    shutil.rmtree(run_root, ignore_errors=True)
    for d in ("tmp", "local", "models"):
        os.makedirs(os.path.join(run_root, d))
    trace_out = os.path.join(BUILD, "traces", f"{a.workload}-seed{a.seed}-{os.getpid()}.jsonl")
    env = dict(os.environ, SPARK_GRAFT_CPUS=cpus,
               SPARK_GRAFT_MODEL_DIR=os.path.join(run_root, "models"))
    cmd = ["java", f"-Xmx{HEAP}", f"-Djava.io.tmpdir={run_root}/tmp",
           f"-Dspark.local.dir={run_root}/local", *jvm_flags, "-cp", classpath,
           "perfbench.Main", "--workload", a.workload, "--seed", str(a.seed),
           "--seconds", str(a.seconds), "--trace", a.trace, "--root", run_root,
           "--trace-out", trace_out]
    print(f"[perfbench] cpus={cpus} heap={HEAP} workload={a.workload} seed={a.seed}",
          file=sys.stderr)
    # the JVM gets its own process group, so stopping it stops every
    # thread and child it has; a signal to this script stops it too
    proc = subprocess.Popen(cmd, cwd=ROOT, env=env, stdout=subprocess.PIPE,
                            text=True, start_new_session=True)

    def stop_jvm():
        try:
            os.killpg(proc.pid, signal.SIGKILL)
        except ProcessLookupError:
            pass  # already exited
        proc.wait()
        shutil.rmtree(run_root, ignore_errors=True)

    def on_signal(signum, _frame):
        stop_jvm()
        sys.exit(128 + signum)

    signal.signal(signal.SIGTERM, on_signal)
    signal.signal(signal.SIGINT, on_signal)
    try:
        out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        stop_jvm()
        fail(f"run exceeded {RUN_TIMEOUT_S} s")
    lines = out.splitlines()
    try:
        result = json.loads(lines[-1])
    except (IndexError, ValueError):
        sys.stderr.write(out)
        shutil.rmtree(run_root, ignore_errors=True)
        fail(f"the benchmark JVM exited with {proc.returncode} and no result")
    for line in lines[:-1]:
        print(line)
    shutil.rmtree(run_root, ignore_errors=True)
    print(json.dumps(result))
    sys.exit(0 if result["correct"] and proc.returncode == 0 else 1)


if __name__ == "__main__":
    main()
