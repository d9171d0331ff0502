#!/usr/bin/env python3
"""Runs one benchmark workload against the library in this checkout.

    python3 perfbench/run.py --workload <extract|increment> \
        --seed <n> --seconds <s> --trace <0|1>

Builds the library and the benchmark with sbt when their sources changed
since the last build, then runs perfbench.Main in one JVM. A rebuild also
drops what earlier runs kept (the increment base corpus), so that the new
code builds it again. The last line of standard output is the JSON result;
build logs go to standard error.
Everything it writes stays under .bench_build/ in the checkout.
"""
import argparse
import hashlib
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
STATE = os.path.join(ROOT, ".bench_build", "perfbench")
TARGET = os.path.join(HERE, "target")
WORKLOADS = ("extract", "increment")
HEAP = "-Xmx3g"
BUILD_TIMEOUT_S = 840
PREPARE_TIMEOUT_S = 600
RUN_TIMEOUT_S = 170


T0 = time.time()


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_files():
    """Every file whose change requires a rebuild."""
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src", "main"),
             os.path.join(ROOT, "project"), os.path.join(HERE, "project")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")]
    for r in roots:
        for d, subdirs, names in os.walk(r):
            subdirs[:] = sorted(s for s in subdirs if s not in ("target", "project"))
            files += [os.path.join(d, n) for n in names]
    return sorted(f for f in files if os.path.isfile(f))


def stamp():
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def run_bounded(cmd, timeout, **kw):
    """Runs cmd in its own process group; kills the group on timeout and
    always waits for it to end."""
    proc = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        return proc.wait(timeout=timeout)
    except BaseException:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        raise


def build():
    want = stamp()
    stamp_file = os.path.join(STATE, "build.stamp")
    cp_file = os.path.join(TARGET, "runtime-classpath.txt")
    opts_file = os.path.join(TARGET, "jvm-options.txt")
    have = open(stamp_file).read() if os.path.exists(stamp_file) else ""
    if have != want or not (os.path.exists(cp_file) and os.path.exists(opts_file)):
        env = dict(os.environ)
        env.setdefault("COURSIER_MODE", "offline")
        sbt_opts = env.get("SBT_OPTS", "")
        if "-Dsbt.offline" not in sbt_opts:
            env["SBT_OPTS"] = (sbt_opts + " -Dsbt.offline=true").strip()
        t0 = time.time()
        code = run_bounded(["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.forcestart=false",
                            "compile", "writeClasspath"],
                           BUILD_TIMEOUT_S, cwd=HERE, env=env, stdout=sys.stderr,
                           stdin=subprocess.DEVNULL)
        if code != 0:
            fail(f"build failed (sbt exit {code})")
        shutil.rmtree(os.path.join(STATE, "cache"), ignore_errors=True)
        os.makedirs(STATE, exist_ok=True)
        with open(stamp_file, "w") as fh:
            fh.write(want)
        print(f"perfbench: built in {time.time() - t0:.1f} s", file=sys.stderr)
    classpath = open(cp_file).read().strip()
    jvm = [o for o in open(opts_file).read().split("\n") if o and not o.startswith("-Xmx")]
    return classpath, jvm


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, choices=("0", "1"))
    args = ap.parse_args()

    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        fail(f"no library sources under {ROOT}: nothing to benchmark")

    classpath, jvm = build()
    work = os.path.join(STATE, "work", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    cmd = ["java", *jvm, HEAP, f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
           "-cp", classpath, "perfbench.Main",
           "--workload", args.workload, "--seed", str(args.seed),
           "--seconds", str(args.seconds), "--trace", args.trace, "--work", work]
    try:
        # what runs keep across runs is built, once, in a JVM of its own, so
        # that no measured JVM is warmed by it; the first run after a build,
        # whatever its workload, builds it
        code = run_bounded(cmd + ["--prepare", "1"], PREPARE_TIMEOUT_S, cwd=work,
                           stdin=subprocess.DEVNULL, stdout=sys.stderr)
        if code != 0:
            fail(f"preparing the workload failed (JVM exit {code})")
        code = run_bounded(cmd, RUN_TIMEOUT_S, cwd=work, stdin=subprocess.DEVNULL)
    except subprocess.TimeoutExpired:
        fail("run exceeded its time limit")
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if code != 0:
        fail(f"benchmark JVM exited with {code}")
    print(f"perfbench: run took {time.time() - T0:.1f} s", file=sys.stderr)


if __name__ == "__main__":
    main()
