#!/usr/bin/env python3
"""Run one benchmark workload against the graft engine in this checkout.

    python3 perfbench/run.py --workload exact --seed 1 --seconds 10 --trace 0

Builds the engine and the benchmark from source on first use (sbt, offline),
then starts one JVM that sets up the workload, measures it for --seconds,
checks its outputs and writes its metrics. The last line of standard output
is one JSON object with the keys correct, attempted, failed and metrics.
See perfbench/README.md for the workloads and metrics.
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

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
TARGET = os.path.join(BENCH, "target")
CLASSPATH = os.path.join(TARGET, "bench-classpath.txt")
ARCHIVE = os.path.join(TARGET, "bench-classes.jsa")
STAMP = os.path.join(TARGET, "bench-build.stamp")
RUNS = os.path.join(TARGET, "runs")
RECORDS = os.path.join(BENCH, "out")
WORKLOADS = ("exact", "curate")
RUN_LIMIT_S = 170
BUILD_LIMIT_S = 850

# Spark 4 on JDK 17 needs these when started outside spark-submit.
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(code, msg):
    print(f"[perfbench] {msg}", file=sys.stderr)
    sys.exit(code)


def source_hash():
    """Hash of every input of the build, so an edited tree rebuilds."""
    h = hashlib.sha256()
    inputs = [os.path.join(ROOT, "src", "main"), os.path.join(BENCH, "src"),
              os.path.join(ROOT, "build.sbt"), os.path.join(BENCH, "build.sbt"),
              os.path.join(ROOT, "project", "build.properties"),
              os.path.join(BENCH, "project", "build.properties")]
    for top in inputs:
        paths = [top] if os.path.isfile(top) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(top) for f in fs)
        for p in paths:
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def build():
    digest = source_hash()
    if os.path.exists(CLASSPATH) and os.path.exists(STAMP):
        with open(STAMP) as f:
            if f.read().strip() == digest:
                return
    env = dict(os.environ, COURSIER_MODE="offline")
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true", "-Xmx2g"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.exists(repos):
            opts += ["-Dsbt.override.build.repos=true",
                     f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
    # keep sbt's scratch files (sockets, JNA) inside the checkout
    tmp = os.path.join(TARGET, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env["SBT_OPTS"] += f" -Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    log = os.path.join(TARGET, "build.log")
    t0 = time.time()
    # sbt started here does not read the program's .jvmopts, but zinc loads the
    # compiled SIMD classes in sbt's own JVM, which then needs the Vector module
    with open(log, "w") as out:
        rc = run_child(["sbt", "--batch", "-Dsbt.log.noformat=true", "--no-server",
                        "-J--add-modules=jdk.incubator.vector",
                        "benchClasspath"], BUILD_LIMIT_S, cwd=BENCH, env=env,
                       stdout=out, stderr=subprocess.STDOUT)
    if rc != 0:
        with open(log) as f:
            sys.stderr.write("".join(f.readlines()[-40:]))
        fail(3, f"build failed (rc={rc}); full log in {log}")
    record_archive()
    with open(STAMP, "w") as f:
        f.write(digest + "\n")
    print(f"[perfbench] built in {time.time() - t0:.0f}s", file=sys.stderr)


def java_cmd(jvm_opts, run_dir, args):
    with open(CLASSPATH) as f:
        classpath = f.read().strip()
    return (["java", "-Xmx3g", "-XX:-UsePerfData", "-XX:ReservedCodeCacheSize=512m",
             f"-Djava.io.tmpdir={run_dir}/tmp",
             f"-Dlog4j2.configurationFile={os.path.join(BENCH, 'log4j2.properties')}",
             "--add-modules=jdk.incubator.vector"]
            + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
            + jvm_opts + ["-cp", classpath, "perfbench.Main", "--run-dir", run_dir] + args)


def record_archive():
    """Record a class-data-sharing archive of the classes a run loads, by
    running every workload once at smoke size. Later JVMs map it instead of
    loading and verifying ~10k classes from jars, which halves JVM and Spark
    start-up. Without an archive, runs still work, only slower."""
    run_dir = os.path.join(TARGET, "archive-run")
    shutil.rmtree(run_dir, ignore_errors=True)
    if os.path.exists(ARCHIVE):
        os.remove(ARCHIVE)
    os.makedirs(os.path.join(run_dir, "tmp"))
    log = os.path.join(TARGET, "archive.log")
    try:
        with open(log, "w") as out:
            rc = run_child(java_cmd([f"-XX:ArchiveClassesAtExit={ARCHIVE}"], run_dir,
                                    ["--workload", "all", "--seed", "1", "--seconds", "1",
                                     "--trace", "0", "--smoke", "1",
                                     "--result", "-", "--record", "-"]),
                           BUILD_LIMIT_S, cwd=ROOT, stdout=out, stderr=subprocess.STDOUT)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    if rc != 0 and os.path.exists(ARCHIVE):
        os.remove(ARCHIVE)
    if not os.path.exists(ARCHIVE):
        print(f"[perfbench] no class-data-sharing archive (rc={rc}, see {log}); "
              "runs will start slower", file=sys.stderr)


def run_child(cmd, limit_s, **kw):
    """Run `cmd` in its own process group; kill the group at `limit_s`.
    Always waits for the child to end."""
    p = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        return p.wait(timeout=limit_s)
    except subprocess.TimeoutExpired:
        print(f"[perfbench] {cmd[0]} exceeded {limit_s}s; killing it", file=sys.stderr)
        return -1
    finally:
        if p.poll() is None:
            try:
                os.killpg(p.pid, signal.SIGKILL)
            except ProcessLookupError:
                pass
            p.wait()


def main():
    # a terminated run still stops its JVM and removes its directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, type=int, choices=(0, 1))
    ap.add_argument("--smoke", type=int, choices=(0, 1), default=0,
                    help="tiny sizes, for the benchmark's own tests")
    a = ap.parse_args()
    if a.seconds <= 0:
        fail(2, "--seconds must be positive")
    for need in ("build.sbt", os.path.join("src", "main", "scala")):
        if not os.path.exists(os.path.join(ROOT, need)):
            fail(2, f"no {need} beside the benchmark: not a graft source checkout")
    if shutil.which("sbt") is None or shutil.which("java") is None:
        fail(2, "sbt and java are needed on PATH")

    build()
    t_start = time.time()

    name = f"{a.workload}-s{a.seed}-t{a.trace}"
    run_dir = os.path.join(RUNS, name)
    if os.path.exists(run_dir):
        fail(4, f"leftover run directory {run_dir}: an earlier run did not clean up; "
                "inspect and remove it")
    os.makedirs(os.path.join(run_dir, "tmp"))
    os.makedirs(RECORDS, exist_ok=True)
    result = os.path.join(run_dir, "result.json")
    record = os.path.join(RECORDS, f"{name}-{time.strftime('%Y%m%dT%H%M%S')}-{os.getpid()}.json")
    jvm = [f"-XX:SharedArchiveFile={ARCHIVE}"] if os.path.exists(ARCHIVE) else []
    cmd = java_cmd(jvm, run_dir, [
        "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
        "--trace", str(a.trace), "--smoke", str(a.smoke),
        "--result", result, "--record", record])
    try:
        limit = max(10, RUN_LIMIT_S - (time.time() - t_start))
        rc = run_child(cmd, limit, cwd=ROOT, stdout=sys.stderr, stderr=sys.stderr)
        if not os.path.exists(result):
            fail(1, f"no result (rc={rc})")
        with open(result) as f:
            res = json.load(f)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    if set(res) != {"correct", "attempted", "failed", "metrics"}:
        fail(1, f"malformed result {res}")
    print(f"[perfbench] run record: {record}", file=sys.stderr)
    print(json.dumps(res))
    sys.exit(0 if rc == 0 and res["correct"] and res["failed"] == 0 else 1)


if __name__ == "__main__":
    main()
