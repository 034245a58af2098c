#!/usr/bin/env python3
"""Run one benchmark workload and print its result as the last stdout line.

Usage (from the repository root):

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Workloads: pages_bulk, daily_loop, lake_queries, text_ingest_stream (see
perfbench/README.md).

The first run in a checkout builds the benchmark and the program from source
with sbt (offline) and, for lake_queries, generates the star-schema lake once
with the program's own generator. Everything the run writes stays under
`.bench_build/` in the checkout; each run's scratch directory is removed when
it ends.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

WORKLOADS = ("pages_bulk", "daily_loop", "lake_queries", "text_ingest_stream")
LAKE_SF = "0.01"
JAVA_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 840
HEAP = "2g"

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(code, msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def sbt_env():
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true", "-Xmx2g"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.exists(repos):
            opts += ["-Dsbt.override.build.repos=true",
                     f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
    return env


def classpath(root, build):
    """Build once per checkout; return the runtime classpath."""
    cp_file = os.path.join(build, "classpath.txt")
    if os.path.exists(cp_file):
        with open(cp_file) as f:
            cp = f.read().strip()
        if cp and all(os.path.exists(p) for p in cp.split(os.pathsep)):
            return cp
    print("perfbench: building (sbt, offline)", file=sys.stderr)
    try:
        out = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true",
             "export perfbench/Runtime/fullClasspath"],
            cwd=os.path.join(root, "perfbench"), env=sbt_env(),
            stdout=subprocess.PIPE, stderr=sys.stderr, text=True,
            timeout=BUILD_TIMEOUT_S, stdin=subprocess.DEVNULL)
    except subprocess.TimeoutExpired:
        fail(3, "build timed out")
    lines = [l for l in out.stdout.splitlines() if l.strip()]
    if out.returncode != 0 or not lines or lines[-1].startswith("["):
        sys.stderr.write(out.stdout[-4000:])
        fail(3, f"build failed (sbt exit {out.returncode})")
    cp = lines[-1].strip()
    with open(cp_file, "w") as f:
        f.write(cp + "\n")
    return cp


def java_cmd(cp, tmp, main, args):
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else "java"
    cmd = [java]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += [f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+AlwaysPreTouch",
            "-XX:ReservedCodeCacheSize=512m",
            f"-Djava.io.tmpdir={tmp}", "-Dspark.callstack.depth=200",
            "-cp", cp, main] + args
    return cmd


def run(cmd, cwd, env, timeout, echo):
    """Run a JVM in its own process group; stream its stdout if `echo`.
    Returns (exit code, last stdout line)."""
    proc = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=subprocess.PIPE,
                            stderr=sys.stderr, stdin=subprocess.DEVNULL,
                            text=True, start_new_session=True)
    last = ""
    deadline = time.monotonic() + timeout
    try:
        for line in proc.stdout:
            if echo:
                sys.stdout.write(line)
            if line.strip():
                last = line.strip()
            if time.monotonic() > deadline:
                raise subprocess.TimeoutExpired(cmd, timeout)
        code = proc.wait(timeout=max(1, deadline - time.monotonic()))
    except (subprocess.TimeoutExpired, KeyboardInterrupt):
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        fail(4, "benchmark JVM timed out")
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
    return code, last


def lake(root, build, cp, cores):
    """The star-schema lake, generated once per checkout."""
    out = os.path.join(build, "lake", f"sf{LAKE_SF}")
    if os.path.exists(os.path.join(out, "_READY")):
        return out
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(os.path.join(tmp, "jvm"), exist_ok=True)
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(cores))
    code, _ = run(java_cmd(cp, os.path.join(tmp, "jvm"),
                           "graft.tools.GenScaleData", [tmp, LAKE_SF]),
                  root, env, JAVA_TIMEOUT_S, echo=False)
    if code != 0:
        fail(3, "lake generation failed")
    shutil.rmtree(os.path.join(tmp, "jvm"), ignore_errors=True)
    shutil.rmtree(out, ignore_errors=True)
    os.rename(tmp, out)
    open(os.path.join(out, "_READY"), "w").close()
    return out


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, type=int, choices=(0, 1))
    a = ap.parse_args()

    root = os.getcwd()
    for need in ("BENCHMARK.json", "build.sbt", os.path.join("src", "main", "scala"),
                 os.path.join("perfbench", "build.sbt")):
        if not os.path.exists(os.path.join(root, need)):
            fail(2, f"not a checkout of the program: {need} is missing")
    build = os.path.join(root, ".bench_build")
    os.makedirs(build, exist_ok=True)
    cores = max(1, min(4, os.cpu_count() or 1))

    cp = classpath(root, build)
    extra = []
    if a.workload == "lake_queries":
        extra = ["--lake", lake(root, build, cp, cores)]

    work = os.path.join(build, "work", f"{a.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    try:
        code, last = run(
            java_cmd(cp, os.path.join(work, "tmp"), "perfbench.Main",
                     ["--workload", a.workload, "--seed", str(a.seed),
                      "--seconds", str(a.seconds), "--trace", str(a.trace),
                      "--root", root, "--work", work, "--cores", str(cores)]
                     + extra),
            root, dict(os.environ), JAVA_TIMEOUT_S, echo=True)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if code != 0:
        fail(code, f"benchmark JVM exited with {code}")
    try:
        json.loads(last)
    except ValueError:
        fail(5, "benchmark JVM printed no result line")
    sys.stdout.flush()


if __name__ == "__main__":
    main()
