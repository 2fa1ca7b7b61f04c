#!/usr/bin/env python3
"""graft benchmark runner.

    python3 perfbench/run.py --workload fraud_poll --seed 1 --seconds 20 --trace 0

Run from the root of a graft checkout. Builds graft and the benchmark from
source with sbt (cached under .bench_build, or $CARGO_TARGET_DIR when set,
keyed by a hash of the sources), then runs one workload in a fresh JVM. All
files the run writes, Spark's local dirs and the JVM's temp dir included,
live under one per-run directory that is removed on exit, failure included.

The last line of stdout is the run's JSON result. Any failed output check,
thrown cycle, build failure or timeout exits non-zero without a result.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import tempfile
import time

WORKLOADS = ("fraud_poll", "corpus_stream")
RUN_LIMIT_S = 170          # a run, set-up included, must end within this
BUILD_LIMIT_S = 850        # the first run in a checkout builds
HEAP = "3g"
GC = "ParallelGC"          # the collector the repository's own JVMs use

# Spark 4 on JDK 17 outside spark-submit (JavaModuleOptions).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]

BUILD_INPUTS = ["build.sbt", "project/build.properties", "src/main",
                "perfbench/build.sbt", "perfbench/project/build.properties",
                "perfbench/src"]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_hash(root):
    h = hashlib.sha256()
    for rel in BUILD_INPUTS:
        p = os.path.join(root, rel)
        if os.path.isfile(p):
            files = [p]
        elif os.path.isdir(p):
            files = sorted(os.path.join(d, f)
                           for d, _, fs in os.walk(p) for f in fs)
        else:
            fail(f"missing build input {rel}: run from a graft checkout")
        for f in files:
            h.update(os.path.relpath(f, root).encode())
            with open(f, "rb") as fh:
                h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def run_bounded(cmd, cwd, env, limit, stdout, stderr):
    """Runs cmd in its own process group; kills the whole group on timeout
    or on a signal to this runner, and always waits for it to end."""
    proc = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=stdout,
                            stderr=stderr, start_new_session=True)

    def kill(*_):
        try:
            os.killpg(proc.pid, signal.SIGKILL)
        except ProcessLookupError:
            pass

    old = {s: signal.signal(s, lambda *a: (kill(), sys.exit(3)))
           for s in (signal.SIGTERM, signal.SIGINT)}
    try:
        return proc.wait(timeout=limit)
    except subprocess.TimeoutExpired:
        kill()
        proc.wait()
        return None
    finally:
        kill()  # stray children of the group (none expected)
        for s, h in old.items():
            signal.signal(s, h)


def build(root, cache):
    """Returns the runtime classpath, building when the sources changed."""
    stamp = source_hash(root)
    cp_file = os.path.join(cache, "classpath.txt")
    stamp_file = os.path.join(cache, "stamp")
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                with open(cp_file) as g:
                    return g.read().strip()
    tmp = os.path.join(cache, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env = dict(os.environ)
    env["SBT_OPTS"] = (env.get("SBT_OPTS", "") +
                       f" -Djava.io.tmpdir={tmp} -Djna.tmpdir={tmp}").strip()
    log = os.path.join(cache, "build.log")
    t0 = time.time()
    with open(log, "wb") as out:
        rc = run_bounded(["sbt", "-batch", "-Dsbt.log.noformat=true",
                          "export perfbench/Runtime/fullClasspath"],
                         os.path.join(root, "perfbench"), env, BUILD_LIMIT_S,
                         out, subprocess.STDOUT)
    with open(log, errors="replace") as f:
        lines = f.read().splitlines()
    if rc != 0 or not lines or ":" not in lines[-1]:
        sys.stderr.write("\n".join(x[:300] for x in lines[-40:]) + "\n")
        fail(f"build failed (exit {rc})")
    with open(cp_file, "w") as f:
        f.write(lines[-1].strip())
    with open(stamp_file, "w") as f:
        f.write(stamp)
    print(f"perfbench: built in {time.time() - t0:.1f} s", file=sys.stderr)
    return lines[-1].strip()


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, choices=("0", "1"))
    ap.add_argument("--spans-out", help="keep the traced run's spans here")
    a = ap.parse_args()

    root = os.getcwd()
    cache = os.path.abspath(os.environ.get("CARGO_TARGET_DIR") or ".bench_build")
    if not os.path.isdir(os.path.join(root, "src", "main", "scala")):
        fail("no graft sources under src/main/scala: run from a graft checkout")
    os.makedirs(cache, exist_ok=True)
    cp = build(root, cache)

    runs = os.path.join(cache, "runs")
    os.makedirs(runs, exist_ok=True)
    run_root = tempfile.mkdtemp(prefix=f"{a.workload}-", dir=runs)
    try:
        tmp = os.path.join(run_root, "tmp")
        os.makedirs(tmp)
        env = dict(os.environ)
        env["SPARK_LOCAL_DIRS"] = os.path.join(run_root, "spark-local")
        env["TMPDIR"] = tmp
        cmd = (["java", f"-Xmx{HEAP}", f"-XX:+Use{GC}", "-XX:-UsePerfData",
                f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false"] +
               [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")] +
               ["-cp", cp, "perfbench.Main", "--workload", a.workload,
                "--seed", str(a.seed), "--seconds", str(a.seconds),
                "--trace", a.trace, "--root", run_root])
        out_path = os.path.join(run_root, "stdout")
        err_path = os.path.join(run_root, "stderr")
        with open(out_path, "wb") as out, open(err_path, "wb") as err:
            rc = run_bounded(cmd, root, env, RUN_LIMIT_S, out, err)
        with open(out_path, errors="replace") as f:
            lines = f.read().splitlines()
        if rc != 0:
            with open(err_path, errors="replace") as f:
                sys.stderr.write("\n".join(f.read().splitlines()[-60:]) + "\n")
            sys.stdout.write("\n".join(lines) + "\n")
            fail("timed out" if rc is None else f"benchmark exited {rc}")
        result = json.loads(lines[-1]) if lines else {}
        if result.get("correct") is not True:
            fail("no correct result line")
        if a.spans_out and a.trace == "1":
            shutil.copyfile(os.path.join(run_root, "spans.json"), a.spans_out)
        for line in lines[:-1]:
            print(line)
        print(lines[-1])
    finally:
        shutil.rmtree(run_root, ignore_errors=True)


if __name__ == "__main__":
    main()
