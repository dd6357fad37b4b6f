#!/usr/bin/env python3
"""End-to-end benchmark of the graft engine: two closed-loop workloads.

Usage (from the repository root):

    python3 perfbench/run.py --workload tle_cron --seed 1 --seconds 15 --trace 0

Builds the engine together with the benchmark's sources (perfbench/build.sbt,
offline sbt) when the sources changed since the last build, then runs one
JVM with a local[N] Spark session. The last stdout line is the result:
{"correct", "attempted", "failed", "metrics"}; the line before it is the
full report (all named metrics, sizes, run environment).
"""

import argparse
import hashlib
import os
import re
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(HERE, "out")
CLASSES = os.path.join(HERE, "target", "scala-2.13", "classes")
STAMP = os.path.join(OUT, "build.stamp")
WORKLOADS = ("tle_cron", "docs_stream_dedup")
# The number of task threads: local[N] with N <= nproc.
MAX_CORES = 2
HEAP = "3g"
SETTLE_AFTER_BUILD_S = 10
# Environment variables the engine reads as tune overrides. SPARK_GRAFT_CPUS
# is not one: the benchmark sets the core count itself and records it.
ALLOWED_GRAFT_ENV = {"SPARK_GRAFT_CPUS"}
ADD_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
             "java.net", "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar"]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def sources():
    dirs = [os.path.join(ROOT, "src", "main", "scala"),
            os.path.join(HERE, "src", "main", "scala")]
    files = [os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for d in dirs:
        for base, _, names in os.walk(d):
            files += [os.path.join(base, n) for n in names if n.endswith((".scala", ".java"))]
    return sorted(files)


def source_hash(files):
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()[:16]


def spark_jars():
    """The Spark jar directory the engine's own build compiles against."""
    build = os.path.join(ROOT, "build.sbt")
    if os.path.isfile(build):
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', open(build).read())
        if m and os.path.isdir(m.group(1)):
            return m.group(1)
    home = os.environ.get("SPARK_HOME")
    if home and os.path.isdir(os.path.join(home, "jars")):
        return os.path.join(home, "jars")
    fail("cannot find the Spark jars (root build.sbt unmanagedBase or SPARK_HOME)")


def build(jars, digest):
    if os.path.isfile(STAMP) and open(STAMP).read().strip() == digest and os.path.isdir(CLASSES):
        return
    env = dict(os.environ, PERFBENCH_SPARK_JARS=jars, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Xmx2g", "-XX:-UsePerfData", f"-Djava.io.tmpdir={os.path.join(OUT, 'tmp')}"]
    repos = os.path.expanduser(os.path.join("~", ".sbt", "repositories"))
    if os.path.isfile(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    os.makedirs(os.path.join(OUT, "tmp"), exist_ok=True)
    t0 = time.time()
    proc = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile"],
                          cwd=HERE, env=env, stdout=sys.stderr, stderr=sys.stderr,
                          timeout=840)
    if proc.returncode != 0:
        fail(f"build failed (sbt exit {proc.returncode})", 3)
    with open(STAMP, "w") as fh:
        fh.write(digest + "\n")
    print(f"perfbench: built in {time.time() - t0:.0f}s", file=sys.stderr)
    # let the machine settle after the compiler's load before measuring
    time.sleep(SETTLE_AFTER_BUILD_S)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    started = time.time()

    overrides = sorted(k for k in os.environ
                       if k.startswith("SPARK_GRAFT_") and k not in ALLOWED_GRAFT_ENV)
    if overrides:
        fail("refusing to run with engine tune overrides set: " + ", ".join(overrides))
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail("engine sources not found next to the benchmark (src/main/scala/graft)")

    jars = spark_jars()
    files = sources()
    digest = source_hash(files)
    os.makedirs(OUT, exist_ok=True)
    build(jars, digest)

    cores = max(1, min(MAX_CORES, os.cpu_count() or 1))
    tmp = os.path.join(OUT, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env = {k: v for k, v in os.environ.items() if not k.startswith("SPARK_GRAFT_")}
    env["SPARK_LOCAL_DIRS"] = tmp
    cmd = ["java", "-XX:-UsePerfData", f"-Xms{HEAP}", f"-Xmx{HEAP}", f"-Djava.io.tmpdir={tmp}",
           f"-Dspark.local.dir={tmp}", "-Dspark.ui.enabled=false",
           "-Dderby.system.home=" + tmp]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    cmd += ["-cp", CLASSES + os.pathsep + os.path.join(jars, "*"), "perfbench.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--cores", str(cores), "--out", OUT, "--source", digest]
    budget = max(30.0, 175.0 - (time.time() - started))
    proc = subprocess.Popen(cmd, cwd=OUT, env=env, stdout=subprocess.PIPE,
                            stderr=sys.stderr, text=True, start_new_session=True)
    try:
        out, _ = proc.communicate(timeout=budget)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        fail(f"run exceeded {budget:.0f}s", 4)
    except BaseException:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        raise
    lines = [l for l in out.splitlines() if l.strip()]
    if proc.returncode != 0 or not lines or not lines[-1].startswith('{"correct"'):
        sys.stdout.write(out)
        fail(f"benchmark process failed (exit {proc.returncode})", 5)
    print("\n".join(lines))


if __name__ == "__main__":
    main()
