#!/usr/bin/env python3
"""Run one benchmark workload and print its result as the last stdout line.

    python3 perfbench/run.py --workload search_serve --seed 1 --seconds 20 --trace 0

Run from the root of a checkout. The first run builds the engine and the
benchmark from source with sbt (offline); later runs reuse the build while
the sources are unchanged. Every file a run writes (corpora, indexes, delta
logs, epoch dirs, Spark's local and warehouse dirs) lives in a run-scoped
directory under perfbench/.run/ that is deleted when the run ends. A traced
run (--trace 1) also writes its spans to perfbench/out/.
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
WORKLOADS = ("search_serve", "ingest_compact")
CLASSPATH_FILE = os.path.join(HERE, "target", "perfbench-classpath.txt")
BUILD_TIMEOUT_S = 840
RUN_TIMEOUT_S = 170

# Spark on JDK 17 outside spark-submit needs these opens (the same list the
# engine's build passes to its forked runs).
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


def source_digest():
    """Hash of every input of the build, so an edited source rebuilds."""
    h = hashlib.sha256()
    inputs = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")]
    for top in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
                os.path.join(ROOT, "project"), os.path.join(HERE, "project")):
        for d, dirs, files in os.walk(top):
            dirs[:] = sorted(x for x in dirs if x not in ("target", "project"))
            inputs += [os.path.join(d, f) for f in sorted(files)]
    for p in inputs:
        if os.path.isfile(p):
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def build():
    """Compile engine + benchmark; return the runtime classpath."""
    digest = source_digest()
    if os.path.isfile(CLASSPATH_FILE):
        with open(CLASSPATH_FILE) as f:
            stamp, cp = f.read().split("\n", 1)
        if stamp == digest:
            return cp.strip()
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = env.get("SBT_OPTS", "")
    if "-Dsbt.offline=true" not in opts:
        opts += " -Dsbt.offline=true"
    # resolve from the user's configured repositories (where the offline
    # cache was filled), as the engine's own build is run
    repos = os.path.expanduser(os.path.join("~", ".sbt", "repositories"))
    if "sbt.repository.config" not in opts and os.path.isfile(repos):
        opts += f" -Dsbt.override.build.repos=true -Dsbt.repository.config={repos}"
    env["SBT_OPTS"] = opts.strip()
    # own process group, so a timeout stops sbt's JVM too, not just its
    # launcher script
    proc = subprocess.Popen(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
         "export perfbench/Runtime/fullClasspath"],
        cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
        text=True, start_new_session=True)
    try:
        out, _ = proc.communicate(timeout=BUILD_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        fail(f"build exceeded {BUILD_TIMEOUT_S} s")
    lines = out.splitlines()
    cps = [ln for ln in lines if ".jar" in ln and not ln.startswith("[")]
    if proc.returncode != 0 or not cps:
        sys.stderr.write("\n".join(lines[-40:]) + "\n")
        fail("build failed")
    os.makedirs(os.path.dirname(CLASSPATH_FILE), exist_ok=True)
    with open(CLASSPATH_FILE, "w") as f:
        f.write(digest + "\n" + cps[-1].strip())
    return cps[-1].strip()


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    if a.workload not in WORKLOADS:
        fail(f"unknown workload {a.workload}; known: {', '.join(WORKLOADS)}")
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail("no engine sources next to the benchmark (run from a checkout)")
    if shutil.which("sbt") is None or shutil.which("java") is None:
        fail("sbt and java must be on PATH")

    cp = build()
    run_dir = os.path.join(HERE, ".run", f"{a.workload}-{os.getpid()}")
    trace_file = os.path.join(HERE, "out", f"trace-{a.workload}-seed{a.seed}.json")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    # A fixed-size heap and young generation with the stop-the-world
    # parallel collector: with a growing heap, or G1's concurrent threads
    # competing with Spark's task threads for the cores, the same input
    # measured up to ~25% apart from one JVM to the next.
    cmd = (["java", "-Xms2g", "-Xmx2g", "-Xmn1g", "-XX:+UseParallelGC"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-Dspark.ui.enabled=false",
              f"-Dderby.stream.error.file={os.path.join(run_dir, 'derby.log')}",
              "-cp", cp, "graft.perfbench.Main",
              "--workload", a.workload, "--seed", str(a.seed),
              "--seconds", str(a.seconds), "--trace", str(a.trace),
              "--run-dir", run_dir, "--trace-file", trace_file])
    proc = subprocess.Popen(cmd, cwd=run_dir, stdout=subprocess.PIPE, text=True,
                            start_new_session=True)

    def stop(*_):
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
        shutil.rmtree(run_dir, ignore_errors=True)
        sys.exit(3)

    signal.signal(signal.SIGTERM, stop)
    signal.signal(signal.SIGINT, stop)
    t0 = time.time()
    try:
        out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        shutil.rmtree(run_dir, ignore_errors=True)
        fail(f"run exceeded {RUN_TIMEOUT_S} s")
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    lines = [ln for ln in out.splitlines() if ln.strip()]
    result = None
    if proc.returncode == 0 and lines:
        try:
            result = json.loads(lines[-1])
        except ValueError:
            result = None
    if result is None or set(result) != {"correct", "attempted", "failed", "metrics"}:
        sys.stderr.write(out[-4000:])
        fail(f"benchmark JVM exited {proc.returncode} without a result")
    for ln in lines[:-1]:
        print(ln)
    print(f"wall_s {time.time() - t0:.1f}")
    if a.trace:
        print(f"trace_file {os.path.relpath(trace_file, ROOT)}")
    print(json.dumps(result))


if __name__ == "__main__":
    main()
