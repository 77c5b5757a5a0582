#!/usr/bin/env python3
"""Run one engine-benchmark workload and print its result.

    python3 enginebench/run.py --workload cdc_maintain --seed 1 --seconds 12 --trace 0

Run from the repository root. The first run builds the benchmark and
the engine from source with sbt (offline) into enginebench/target and
records the runtime classpath under the build directory
($CARGO_TARGET_DIR, default .bench_build); later runs start `java`
directly with a fixed heap and fixed GC flags, so neither sbt nor the
compiler is in the timed path. Each run works in a fresh directory
under the build directory and removes it at the end.

The last line of stdout is one JSON object with the keys correct,
attempted, failed and metrics. Everything else goes to stderr.
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
WORKLOADS = ("cdc_maintain", "curate_ingest")
RESULT_PREFIX = "ENGINEBENCH_RESULT "
HEAP = "3g"
JVM_FLAGS = [
    f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+UseParallelGC", "-XX:ParallelGCThreads=2",
    "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
]
# Spark on JDK 17 needs these outside spark-submit (as in the engine build).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]
RUN_TIMEOUT_S = 170


def log(msg):
    print(f"[enginebench] {msg}", file=sys.stderr, flush=True)


def source_stamp():
    h = hashlib.sha256()
    files = []
    for base in (ENGINE_SRC, os.path.join(HERE, "src")):
        for d, _, names in os.walk(base):
            files += [os.path.join(d, n) for n in names if n.endswith(".scala")]
    files += [os.path.join(HERE, "build.sbt"),
              os.path.join(HERE, "project", "build.properties")]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def run_group(cmd, timeout, **kw):
    """Run cmd in its own process group; kill the group on timeout."""
    p = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        return p, p.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        return p, None
    except BaseException:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        raise


def build(build_dir):
    """Compile once per source state; return the runtime classpath."""
    cp_file = os.path.join(build_dir, "classpath.txt")
    stamp_file = os.path.join(build_dir, "stamp")
    stamp = source_stamp()
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as fh:
            if fh.read() == stamp:
                with open(cp_file) as fh:
                    return [l.strip() for l in fh if l.strip()]
    os.makedirs(build_dir, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    flags = ["-Dsbt.offline=true", "-Dsbt.server.autostart=false",
             "-Dsbt.log.noformat=true"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        flags += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    log("building the benchmark and the engine with sbt")
    t0 = time.time()
    _, rc = run_group(["sbt", "--batch", *flags, "-J-Xmx2g", "compile",
                       f"writeClasspath {cp_file}"],
                      timeout=850, cwd=HERE, env=env, stdout=sys.stderr, stderr=sys.stderr)
    if rc != 0:
        sys.exit(f"[enginebench] build failed (exit {rc})")
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    log(f"build took {time.time() - t0:.1f} s")
    with open(cp_file) as fh:
        return [l.strip() for l in fh if l.strip()]


def main():
    # a terminated run stops its JVM too (run_group kills the group)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    if not os.path.isdir(ENGINE_SRC):
        sys.exit(f"[enginebench] no engine sources at {os.path.relpath(ENGINE_SRC)}: "
                 "run from a full checkout")
    build_dir = os.path.abspath(os.environ.get("CARGO_TARGET_DIR") or
                                os.path.join(ROOT, ".bench_build"))
    cp = build(build_dir)
    work = os.path.join(build_dir, "runs", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    cmd = ["java", *JVM_FLAGS, f"-Djava.io.tmpdir={work}",
           *[x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")],
           "-cp", os.pathsep.join(cp), "enginebench.Main",
           "--workload", a.workload, "--seed", str(a.seed),
           "--seconds", str(a.seconds), "--trace", str(a.trace), "--workdir", work]
    out_path = os.path.join(work, "stdout.txt")
    try:
        with open(out_path, "w") as out:
            _, rc = run_group(cmd, timeout=RUN_TIMEOUT_S, cwd=work, stdout=out,
                              stderr=sys.stderr)
    finally:
        result = None
        if os.path.exists(out_path):
            with open(out_path) as fh:
                for line in fh.read().splitlines():
                    if line.startswith(RESULT_PREFIX):
                        result = line[len(RESULT_PREFIX):]
                    else:
                        print(line, file=sys.stderr)
        shutil.rmtree(work, ignore_errors=True)
    if rc is None:
        sys.exit(f"[enginebench] run exceeded {RUN_TIMEOUT_S} s and was killed")
    if rc != 0 or result is None:
        sys.exit(f"[enginebench] run failed (exit {rc})")
    print(json.dumps(json.loads(result)))


if __name__ == "__main__":
    main()
