#!/usr/bin/env python3
"""Timesearch workload benchmark.

Run from the root of a source checkout:

    python3 perfbench/run.py --workload ingest --seed 1 --seconds 10 --trace 0

Builds the engine and the benchmark from source with sbt (once per source
state; the build goes to .bench_build/), runs one workload in one JVM and
prints its metrics as one JSON line, the last line of standard output.
Everything the run writes stays under .bench_build/ in the checkout.
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

WORKLOADS = ("ingest", "archive_reads", "cdc_views")
ROOT = os.getcwd()
BUILD = os.path.join(ROOT, ".bench_build")
# Inputs of the build: a change to any of them rebuilds.
SOURCES = ("build.sbt", "project/build.properties", "src/main",
           "perfbench/build.sbt", "perfbench/project/build.properties", "perfbench/src")
JVM_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]
RUN_LIMIT_S = 175
BUILD_LIMIT_S = 880


def log(msg):
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)


def source_stamp():
    h = hashlib.sha256()
    for top in SOURCES:
        path = os.path.join(ROOT, top)
        files = [path] if os.path.isfile(path) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(path) for f in fs)
        for f in files:
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def run_bounded(cmd, cwd, env, timeout, stdout):
    """Runs cmd in its own process group; kills the group on timeout and
    waits for it. Returns (exit code, captured stdout or None)."""
    p = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=stdout, stderr=sys.stderr,
                         start_new_session=True, text=True)
    try:
        out, _ = p.communicate(timeout=max(1, timeout))
        return p.returncode, out
    except subprocess.TimeoutExpired:
        log(f"timed out after {timeout:.0f}s: {cmd[0]}")
        for sig in (signal.SIGTERM, signal.SIGKILL):
            try:
                os.killpg(p.pid, sig)
            except ProcessLookupError:
                break
            try:
                p.wait(timeout=10)
                break
            except subprocess.TimeoutExpired:
                pass
        p.wait()
        return 124, None


def build(deadline):
    """Compiles engine + benchmark unless the sources are unchanged since
    the last build; returns the runtime classpath, the source stamp and
    whether it built."""
    stamp = source_stamp()
    stamp_file = os.path.join(BUILD, "build.stamp")
    cp_file = os.path.join(BUILD, "classpath.txt")
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f, open(cp_file) as g:
            same, cp = f.read() == stamp, g.read().strip()
        if same and all(os.path.exists(e) for e in cp.split(os.pathsep)):
            return cp, stamp, False
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    repos = os.path.expanduser("~/.sbt/repositories")
    if "SBT_OPTS" not in env and os.path.exists(repos):
        env["SBT_OPTS"] = ("-Dsbt.override.build.repos=true -Dsbt.offline=true "
                           f"-Dsbt.repository.config={repos} -Xmx2g")
    log("building engine and benchmark with sbt")
    code, out = run_bounded(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
         "export perfbench/Runtime/fullClasspath"],
        os.path.join(ROOT, "perfbench"), env, deadline - time.time(), subprocess.PIPE)
    lines = (out or "").splitlines()
    cps = [l for l in lines if not l.startswith("[") and ".jar" in l]
    sys.stderr.write("\n".join(l for l in lines[-20:] if l not in cps) + "\n")
    if code != 0 or not cps:
        log(f"build failed (exit {code})")
        sys.exit(3)
    with open(cp_file, "w") as f:
        f.write(cps[-1].strip())
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return cps[-1].strip(), stamp, True


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, type=int, choices=(0, 1))
    a = ap.parse_args()
    start = time.time()
    if a.seconds < 1:
        log("--seconds must be at least 1")
        sys.exit(2)
    for need in ("build.sbt", "src/main/scala/graft/Timesearch.scala"):
        if not os.path.exists(os.path.join(ROOT, need)):
            log(f"{need} not found: run from the root of a source checkout")
            sys.exit(2)

    os.makedirs(BUILD, exist_ok=True)
    cp, stamp, built = build(start + BUILD_LIMIT_S)
    deadline = start + (BUILD_LIMIT_S + 10 if built else RUN_LIMIT_S)

    work = os.path.join(BUILD, "work", f"{a.workload}-{os.getpid()}")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env = dict(os.environ)
    env["SPARK_GRAFT_CPUS"] = str(min(4, os.cpu_count() or 1))
    cmd = (["java", "-Xmx3g", "-XX:+UseG1GC"]
           + [x for o in JVM_OPENS for x in ("--add-opens", f"{o}=ALL-UNNAMED")]
           + ["-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
              f"-Djava.io.tmpdir={tmp}", f"-Dspark.local.dir={tmp}",
              f"-Dspark.sql.warehouse.dir={os.path.join(work, 'warehouse')}",
              f"-Dderby.system.home={work}",
              "-cp", cp, "perfbench.Main",
              "--workload", a.workload, "--seed", str(a.seed),
              "--seconds", str(a.seconds), "--trace", str(a.trace),
              # run state (untraced throughputs, first traced counters,
              # spans) is kept per source state, so traced runs are only
              # compared with runs of the same code
              "--state", os.path.join(BUILD, "state", stamp[:16]), "--work", os.path.join(work, "data")])
    try:
        code, out = run_bounded(cmd, work, env, deadline - time.time(), subprocess.PIPE)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    lines = [l for l in (out or "").splitlines() if l.strip()]
    if code != 0 or not lines:
        log(f"run failed (exit {code})")
        sys.exit(code or 1)
    try:
        result = json.loads(lines[-1])
    except ValueError:
        log("run printed no result line")
        sys.exit(1)
    for l in lines[:-1]:
        print(l, file=sys.stderr)
    print(json.dumps(result))


if __name__ == "__main__":
    main()
