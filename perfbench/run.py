#!/usr/bin/env python3
"""Ingest->serve benchmark entry point.

    python3 perfbench/run.py --workload backfill|cron|serve --seed N \
        --seconds S --trace 0|1

Run from the repository root. The first run builds the engine and the
harness from source (sbt, offline) into .bench_build/ and perfbench/target/;
later runs reuse the build while the sources are unchanged. Each run starts
one JVM with one local Spark session (local[N], N = min(4, usable CPUs)),
drives the workload, checks every output against the harness's oracle and
prints one JSON line as the last line of stdout:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

--trace 0 reports the end-to-end metrics, --trace 1 the per-layer ones
(see perfbench/README.md). The exit code is non-zero when a check fails.
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
import threading

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
WORKLOADS = ("backfill", "cron", "serve")
MAX_CORES = 4
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 880

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_stamp():
    """Hash of every input of the build: engine sources, harness sources
    and the harness build definition."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src", "main"),
             os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        paths = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(r) for f in fs)
        for p in paths:
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def build():
    """Compiles engine + harness once per source state; returns the
    runtime classpath."""
    stamp_file = os.path.join(BUILD, "stamp")
    cp_file = os.path.join(BUILD, "classpath")
    stamp = source_stamp()
    if os.path.exists(stamp_file) and os.path.exists(cp_file):
        with open(stamp_file) as f, open(cp_file) as g:
            if f.read() == stamp:
                return g.read()
    os.makedirs(BUILD, exist_ok=True)
    proc = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true",
         "compile", "export Runtime/fullClasspath"],
        cwd=HERE, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
        text=True, timeout=BUILD_TIMEOUT_S)
    lines = [l for l in proc.stdout.splitlines() if l.strip()]
    if proc.returncode != 0 or not lines:
        sys.stderr.write(proc.stdout[-4000:])
        fail("build failed")
    cp = lines[-1].strip()
    if ".jar" not in cp and "classes" not in cp:
        sys.stderr.write(proc.stdout[-4000:])
        fail("build printed no classpath")
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return cp


def java_cmd(cp, cores, work, args):
    return (["java"] + [a for p in ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")] +
            ["-Xms2g", "-Xmx2g", "-XX:+UseParallelGC",
             f"-Djava.io.tmpdir={os.path.join(os.path.dirname(work), 'tmp')}",
             "-Dspark.ui.enabled=false", "-cp", cp, "perfbench.Main",
             "--work", work, "--cores", str(cores)] + args)


def harness(cp, cores, work, args):
    """Runs the harness JVM in its own process group, killed at the time
    limit. Returns (exit code, stdout lines, peak RSS in MiB)."""
    tmp = os.path.join(os.path.dirname(work), "tmp")
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    proc = subprocess.Popen(java_cmd(cp, cores, work, args), cwd=os.path.dirname(work),
                            stdout=subprocess.PIPE, text=True, start_new_session=True)
    timer = threading.Timer(RUN_TIMEOUT_S, os.killpg, (proc.pid, signal.SIGKILL))
    timer.start()
    try:
        out = proc.stdout.read().splitlines()
        _, status, usage = os.wait4(proc.pid, 0)
        proc.returncode = os.waitstatus_to_exitcode(status)
    except BaseException:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        raise
    finally:
        timer.cancel()
        shutil.rmtree(tmp, ignore_errors=True)
    if proc.returncode < 0:
        fail(f"harness killed by signal {-proc.returncode} (limit {RUN_TIMEOUT_S} s)")
    # ru_maxrss is KiB on Linux: the harness JVM's peak resident set
    return proc.returncode, out, usage.ru_maxrss / 1024.0


def prepare_base(cp, cores, work, base):
    """Builds, once per build, the base store cron and serve restore.
    The snapshot logs record absolute paths, so the base is built at the
    run directory and kept as a copy keyed to that path."""
    with open(os.path.join(BUILD, "stamp")) as f:
        key = f.read() + "\n" + work
    base_stamp = os.path.join(base, ".stamp")
    if os.path.exists(base_stamp) and open(base_stamp).read() == key:
        return
    shutil.rmtree(base, ignore_errors=True)
    code, out, _ = harness(cp, cores, work, ["--workload", "prepare"])
    if code != 0:
        sys.stderr.write("\n".join(out[-5:]) + "\n")
        fail("preparing the base store failed")
    shutil.copytree(work, base, symlinks=True)
    with open(base_stamp, "w") as f:
        f.write(key)


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail("engine sources (src/main/scala/graft) not found next to perfbench/")
    if shutil.which("sbt") is None or shutil.which("java") is None:
        fail("sbt and java are required")

    os.makedirs(BUILD, exist_ok=True)
    with open(os.path.join(BUILD, "lock"), "w") as lock:
        # one run at a time per checkout: runs share the build and the
        # fixed run directory the base store's logs point into
        fcntl.flock(lock, fcntl.LOCK_EX)
        cp = build()
        cores = max(1, min(MAX_CORES, len(os.sched_getaffinity(0))))
        work = os.path.join(BUILD, "run", "work")
        base = os.path.join(BUILD, "base")
        prepare_base(cp, cores, work, base)
        try:
            code, out, rss = harness(cp, cores, work, [
                "--workload", args.workload, "--seed", str(args.seed),
                "--seconds", str(args.seconds), "--trace", str(args.trace),
                "--base", base])
        finally:
            shutil.rmtree(os.path.dirname(work), ignore_errors=True)

    lines = [l for l in out if l.strip()]
    if not lines:
        fail(f"harness printed nothing (exit {code})")
    result = json.loads(lines[-1])
    for f in result.pop("failures", []):
        print(f"perfbench: check failed: {f}", file=sys.stderr)
    if args.trace == 0:
        result["metrics"]["peak_rss_mb"] = {"value": rss, "unit": "MB"}
    # the timing metrics from raw wall time, and the steal share they
    # are net of, on the line before the result
    if len(lines) > 1 and lines[-2].startswith('{"raw_wall"'):
        print(lines[-2])
    print(json.dumps(result))
    sys.exit(0 if result["correct"] and code == 0 else 1)


if __name__ == "__main__":
    main()
