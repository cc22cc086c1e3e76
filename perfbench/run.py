#!/usr/bin/env python3
"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload edge_stream --seed 1 --seconds 20 --trace 0

Run from the root of a checkout of the repository. The first run builds
the library and the benchmark from source with sbt (the benchmark is its
own sbt build under perfbench/, depending on the library's build); later
runs reuse the build while the sources are unchanged.

The JVM is launched directly, not through `sbt run`, with the library's
JVM options and a fixed heap, so nothing prefixes the output. Every file
a run writes (Spark warehouse, checkpoints, generated inputs, Java temp
files) goes under one temp root inside perfbench/target, deleted when
the run ends; the run then counts anything left behind.

Standard output: the workload's named metrics one per line, then the
full result as one JSON line, then, as the last line, the contract
object {"correct", "attempted", "failed", "metrics"} — end-to-end
metrics with --trace 0, per-layer metrics with --trace 1. The traced
run also writes its spans to perfbench/results/.

Exit status: 0 when every call succeeded and every output matched the
benchmark's reference; 1 when the run finished but was not correct; 2
when it could not run at all (no result line is printed then).
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
TARGET = os.path.join(HERE, "target")
RESULTS = os.path.join(HERE, "results")

# The workloads BENCHMARK.json lists; graph_rounds runs on request only
# (one pass over a graph above every operator's bar takes minutes).
WORKLOADS = ["edge_stream", "graph_snapshots", "dedup_index", "graph_rounds"]
# A fixed heap, and JIT tier thresholds lowered from the JDK defaults
# (200/2000 and 5000/15000): the same compilers, reaching compiled code
# after seconds of work instead of tens, so the warm-up a run can afford
# is enough for its timed part to start level. perfbench/README.md
# compares the figures with those under the default thresholds.
JVM_FLAGS = ["-Xmx3g",
             "-XX:Tier3InvocationThreshold=50", "-XX:Tier3CompileThreshold=300",
             "-XX:Tier4InvocationThreshold=600", "-XX:Tier4CompileThreshold=1500"]
BUILD_TIMEOUT_S = 840
RUN_TIMEOUT_S = {"graph_rounds": 3000}
DEFAULT_RUN_TIMEOUT_S = 170


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_files():
    """Every file the build reads, for the build fingerprint."""
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(ROOT, "project"),
             os.path.join(HERE, "src"), os.path.join(HERE, "project")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")]
    for r in roots:
        for d, dirs, names in os.walk(r):
            dirs[:] = [x for x in dirs if x != "target"]
            files += [os.path.join(d, n) for n in names]
    return sorted(f for f in files if os.path.isfile(f))


def fingerprint():
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def run_group(cmd, cwd, timeout, stdout, env=None):
    """Run `cmd` in its own process group; on timeout kill the whole
    group and wait for it. Returns the exit code, or None on timeout."""
    p = subprocess.Popen(cmd, cwd=cwd, stdout=stdout, stderr=subprocess.STDOUT,
                         env=env, start_new_session=True)
    try:
        return p.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        return None
    except BaseException:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        raise


def sbt_env():
    """sbt offline, the way the repository's own test command runs it,
    unless the caller already configured sbt."""
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    repos = os.path.expanduser("~/.sbt/repositories")
    if "SBT_OPTS" not in env and os.path.exists(repos):
        env["SBT_OPTS"] = (f"-Dsbt.override.build.repos=true -Dsbt.repository.config={repos} "
                           "-Dsbt.offline=true -Xmx4g")
    return env


def build():
    """Classpath and JVM options, building first if the sources changed."""
    stamp = os.path.join(TARGET, "launch.stamp")
    spec = os.path.join(TARGET, "launch.txt")
    fp = fingerprint()
    if not (os.path.exists(stamp) and os.path.exists(spec) and open(stamp).read() == fp):
        if shutil.which("sbt") is None:
            fail("sbt is not on PATH; it is needed to build the benchmark")
        os.makedirs(TARGET, exist_ok=True)
        log = os.path.join(TARGET, "build.log")
        with open(log, "w") as out:
            code = run_group(["sbt", "--batch", "-Dsbt.server.autostart=false", "launchSpec"],
                             HERE, BUILD_TIMEOUT_S, out, env=sbt_env())
        if code != 0:
            sys.stderr.write(open(log).read()[-4000:])
            fail("build failed" if code is not None else "build timed out")
        with open(stamp, "w") as f:
            f.write(fp)
    lines = open(spec).read().splitlines()
    return lines[0], lines[1:]


def shm_entries():
    try:
        return {e for e in os.listdir("/dev/shm") if e.startswith("graft-")}
    except OSError:
        return set()


def stray_entries():
    """Things a run must never leave in the checkout."""
    out = set()
    for d in (ROOT, HERE):
        for e in os.listdir(d):
            if e in ("spark-warehouse", "metastore_db", "derby.log") or e.startswith("BENCH_SIDECAR"):
                out.add(os.path.join(d, e))
    return out


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--cores", type=int, default=len(os.sched_getaffinity(0)),
                    help="Spark local[N] (default: the CPUs this process may use)")
    a = ap.parse_args()
    # a terminated runner still stops the JVM or sbt it started
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala"))):
        fail("run from a checkout of the repository: the library sources are missing")
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") if "JAVA_HOME" in os.environ else shutil.which("java")
    if not java or not os.path.exists(java):
        fail("java not found")

    classpath, jvm_opts = build()

    shm_before, stray_before = shm_entries(), stray_entries()
    tmp = os.path.join(TARGET, f"run-{os.getpid()}-{time.time_ns()}")
    for d in ("java", "local", "warehouse", "work"):
        os.makedirs(os.path.join(tmp, d))
    result_file = os.path.join(tmp, "result.json")
    log_file = os.path.join(tmp, "jvm.log")
    spans = None
    if a.trace:
        os.makedirs(RESULTS, exist_ok=True)
        spans = os.path.join(RESULTS, f"spans-{a.workload}-{a.seed}.jsonl")
    cmd = [java, *JVM_FLAGS, *jvm_opts,
           f"-Djava.io.tmpdir={tmp}/java",
           f"-Dspark.local.dir={tmp}/local",
           f"-Dspark.sql.warehouse.dir={tmp}/warehouse",
           "-cp", classpath, "perfbench.Main",
           "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
           "--trace", str(a.trace), "--cores", str(a.cores),
           "--scratch", tmp, "--out", result_file]
    if spans:
        cmd += ["--spans", spans]
    code = result = None
    try:
        with open(log_file, "w") as log:
            code = run_group(cmd, tmp, RUN_TIMEOUT_S.get(a.workload, DEFAULT_RUN_TIMEOUT_S), log)
        result = json.load(open(result_file)) if os.path.exists(result_file) else None
        if code != 0 or result is None:
            sys.stderr.write(open(log_file, errors="replace").read()[-6000:])
    finally:
        shutil.rmtree(tmp, ignore_errors=True)

    leftovers = (1 if os.path.exists(tmp) else 0) + len(shm_entries() - shm_before) \
        + len(stray_entries() - stray_before)
    if result is None:
        fail(f"the benchmark JVM {'timed out' if code is None else f'exited with {code}'} without a result")

    result["leftover_dirs"] = leftovers
    correct = bool(result["correct"]) and leftovers == 0
    for name, m in result["named"].items():
        print(f"{name:24s} {m['value']!s:>24} {m['unit']}")
    print(f"{'leftover_dirs':24s} {leftovers:>24} count")
    print(json.dumps(result, sort_keys=False))
    metrics = result.get("per_layer" if a.trace else "end_to_end") or {}
    print(json.dumps({"correct": correct, "attempted": result["attempted"],
                      "failed": result["failed"], "metrics": metrics}))
    sys.exit(0 if correct else 1)


if __name__ == "__main__":
    main()
