#!/usr/bin/env python3
"""Run one benchmark workload against the graft engine built from source.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds the engine and the benchmark with sbt on first use (the classpath
is cached under perfbench/target, keyed on the sources), runs the
workload in one JVM, and relays its stdout, whose last line is the
result JSON. Exits non-zero, printing no result, when the build, the run
or its output fails. See perfbench/README.md for the workloads.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
TARGET = os.path.join(HERE, "target")
WORKLOADS = ("mupr_load_verify", "curation_mix")
BUILD_TIMEOUT_S = 700
RUN_TIMEOUT_S = 170
HEAP = "1g"
YOUNG = "256m"

# what SparkSession needs opened on JDK 17 outside spark-submit
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg):
    print("perfbench: " + msg, file=sys.stderr)
    sys.exit(1)


def source_key():
    """Hash of every file the build reads, outside build outputs."""
    h = hashlib.sha256()
    inputs = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")]
    for base in (os.path.join(ROOT, "src", "main"), os.path.join(ROOT, "project"),
                 os.path.join(HERE, "src", "main"), os.path.join(HERE, "project")):
        for d, dirs, files in os.walk(base):
            dirs[:] = sorted(x for x in dirs if x not in ("target", "project"))
            inputs += [os.path.join(d, f) for f in sorted(files)]
    for p in inputs:
        h.update(p[len(ROOT):].encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def classpath():
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala"))):
        fail("engine sources not found next to perfbench/; run from a full checkout")
    key = source_key()
    cache = os.path.join(TARGET, "classpath.json")
    if os.path.isfile(cache):
        with open(cache) as f:
            got = json.load(f)
        if got.get("key") == key:
            return got["classpath"]
    try:
        out = subprocess.run(
            ["sbt", "-batch", "-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false",
             "export perfbench/Runtime/fullClasspath"],
            cwd=HERE, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
            stdin=subprocess.DEVNULL, text=True, timeout=BUILD_TIMEOUT_S)
    except (OSError, subprocess.TimeoutExpired) as e:
        fail("build failed: %s" % e)
    # the exported classpath is the one line without a log-level prefix
    found = [l for l in out.stdout.splitlines() if l and not l.startswith("[")]
    if out.returncode != 0 or not found:
        sys.stderr.write(out.stdout[-4000:])
        fail("build failed (sbt exit %d)" % out.returncode)
    os.makedirs(TARGET, exist_ok=True)
    with open(cache, "w") as f:
        json.dump({"key": key, "classpath": found[-1]}, f)
    return found[-1]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, choices=("0", "1"))
    a = ap.parse_args()

    cp = classpath()
    work = os.path.join(HERE, "work", "run-%d" % os.getpid())
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # a fixed heap and young generation, not pre-touched: G1 reuses the
    # same eden regions, so the resident set is what the run touches (the
    # young generation plus the old regions live data fills) rather than
    # swinging with adaptive heap and young sizing; two malloc arenas keep
    # per-thread arenas from adding noise to peak_rss_mb
    env = dict(os.environ, MALLOC_ARENA_MAX="2")
    cmd = (["java", "-Xms" + HEAP, "-Xmx" + HEAP, "-Xmn" + YOUNG,
            "-Djava.io.tmpdir=" + tmp,
            "-Dlog4j2.configurationFile=" + os.path.join(HERE, "log4j2.properties")]
           + [x for p in ADD_OPENS for x in ("--add-opens", p + "=ALL-UNNAMED")]
           + ["-cp", cp, "perfbench.Main", "--workload", a.workload,
              "--seed", str(a.seed), "--seconds", str(a.seconds),
              "--trace", a.trace, "--work", work])
    try:
        proc = subprocess.Popen(cmd, cwd=work, env=env, stdout=subprocess.PIPE,
                                stdin=subprocess.DEVNULL, text=True)

        def stop(signum, _frame):
            proc.kill()
            proc.wait()
            fail("stopped by signal %d" % signum)
        signal.signal(signal.SIGTERM, stop)
        signal.signal(signal.SIGINT, stop)
        try:
            out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            fail("run exceeded %d s" % RUN_TIMEOUT_S)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    lines = out.strip().splitlines()
    if proc.returncode != 0 or not lines:
        fail("run failed (java exit %d)" % proc.returncode)
    try:
        result = json.loads(lines[-1])
    except ValueError:
        fail("last output line is not JSON: %r" % lines[-1][:200])
    if sorted(result) != ["attempted", "correct", "failed", "metrics"]:
        fail("unexpected result keys: %s" % sorted(result))
    print("\n".join(lines))


if __name__ == "__main__":
    main()
