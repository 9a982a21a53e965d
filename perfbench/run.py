#!/usr/bin/env python3
"""Run one workload of the repository benchmark.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. The first run compiles the engine and the
benchmark from source with sbt (offline, into .bench_build/ and target/);
later runs start the benchmark JVM directly until a source file changes.
The last stdout line is the run's JSON result; see perfbench/README.md.
"""
import argparse
import hashlib
import os
import subprocess
import sys

ROOT = os.getcwd()
BENCH = os.path.join(ROOT, "perfbench")
OUT = os.path.join(ROOT, ".bench_build")
LAUNCH = os.path.join(OUT, "launch.txt")
STAMP = os.path.join(OUT, "launch.stamp")
WORKLOADS = ["serve_typing", "serve_miss", "ops_dedup"]
# Switches that change what the engine does; both sides of a comparison
# must measure the default program.
GUARDED = ["SPARK_GRAFT_NO_LOCAL_SERVE", "SPARK_GRAFT_NO_RESULT_HISTORY", "SPARK_GRAFT_GC"]
BUILD_TIMEOUT_S = 800
RUN_TIMEOUT_S = 170
HEAP = "-Xmx3g"


def fail(msg, code=2):
    print("perfbench: " + msg, file=sys.stderr)
    sys.exit(code)


def source_stamp():
    """Hash of every file the build reads: engine and benchmark sources."""
    h = hashlib.sha256()
    tops = [os.path.join(ROOT, p) for p in ("build.sbt", "project", "src/main")]
    tops += [os.path.join(BENCH, p) for p in ("build.sbt", "project", "src/main")]
    for top in tops:
        paths = [top] if os.path.isfile(top) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(top) if "target" not in d for f in fs)
        for p in paths:
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def build():
    if not os.path.isfile(os.path.join(ROOT, "build.sbt")):
        fail("no engine build.sbt in " + ROOT + "; run from the repository root")
    stamp = source_stamp()
    if os.path.isfile(LAUNCH) and os.path.isfile(STAMP):
        with open(STAMP) as f:
            if f.read() == stamp:
                return
    os.makedirs(OUT, exist_ok=True)
    env = dict(os.environ)
    env["COURSIER_MODE"] = "offline"
    if "sbt.offline=true" not in env.get("SBT_OPTS", ""):
        env["SBT_OPTS"] = (env.get("SBT_OPTS", "") + " -Dsbt.offline=true").strip()
    cmd = ["sbt", "-batch", "-Dsbt.log.noformat=true", "-Dsbt.server.forcestart=false",
           "writeLaunch"]
    try:
        r = subprocess.run(cmd, cwd=BENCH, env=env, stdout=sys.stderr, stderr=sys.stderr,
                           stdin=subprocess.DEVNULL, timeout=BUILD_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        fail("build timed out")
    if r.returncode != 0 or not os.path.isfile(LAUNCH):
        fail("build failed (exit %d)" % r.returncode)
    with open(STAMP, "w") as f:
        f.write(stamp)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, choices=["0", "1"])
    a = ap.parse_args()
    set_switches = [k for k in GUARDED if k in os.environ]
    if set_switches:
        fail("refusing to run with behaviour switches set: " + ", ".join(set_switches))
    build()
    with open(LAUNCH) as f:
        lines = f.read().splitlines()
    classpath, jvm_opts = lines[0], [l for l in lines[1:] if l]
    tmp = os.path.join(OUT, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env = dict(os.environ)
    env["SPARK_LOCAL_DIRS"] = tmp
    cmd = (["java"] + jvm_opts + [HEAP, "-Djava.io.tmpdir=" + tmp, "-cp", classpath,
           "graft.perfbench.Main", "--workload", a.workload, "--seed", str(a.seed),
           "--seconds", str(a.seconds), "--trace", a.trace])
    p = subprocess.Popen(cmd, cwd=ROOT, env=env, stdin=subprocess.DEVNULL)
    try:
        code = p.wait(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        p.kill()
        p.wait()
        fail("run timed out after %d s" % RUN_TIMEOUT_S)
    except BaseException:
        p.kill()
        p.wait()
        raise
    sys.exit(code)


if __name__ == "__main__":
    main()
