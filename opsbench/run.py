#!/usr/bin/env python3
"""Deployed-operations benchmark of the dedup index (see README.md).

    python3 opsbench/run.py --workload flooded_ingest --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. Builds the engine and the harness
offline from source when they changed, generates the seeded inputs,
runs one harness process, checks the outputs apart from the program and
prints one JSON line: {"correct", "attempted", "failed", "metrics"}.
With --trace 0 the metrics are the end-to-end ones, with --trace 1 the
per-layer ones. Exits non-zero, without a result, if anything fails:
2 for a missing input, 3 for a failed build, 4 for a failed harness run,
5 for a harness run that hit its deadline.
"""

import argparse
import glob
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
HARNESS = os.path.join(HERE, "harness")
CLASSES = os.path.join(HARNESS, "target", "scala-2.13", "classes")
STAMP = os.path.join(HARNESS, "target", "opsbench.stamp")
WORKLOADS = ["flooded_ingest", "audit_churn"]
CORES = 4
HEAP = "2g"
BUILD_TIMEOUT_S = 850
# The harness may take 3x its observed set-up (about 40 s) plus 6x the
# timed region, so a change that makes everything twice as slow still
# reports its figures; but generation, harness and check together stay
# under the 180 s a run may take after its build.
SETUP_ALLOWANCE_S = 120
TIMED_ALLOWANCE = 6
RUN_LIMIT_S = 175
CHECK_RESERVE_S = 15
ADD_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
             "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
             "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]

sys.dont_write_bytecode = True
sys.path.insert(0, HERE)
import check  # noqa: E402
import gen  # noqa: E402


def fail(msg, code=2):
    print(f"opsbench: {msg}", file=sys.stderr)
    sys.exit(code)


def run_proc(cmd, cwd, env, timeout, log):
    """Run cmd in its own process group; kill the whole group on timeout
    and wait for it, so nothing outlives the benchmark."""
    with open(log, "w") as f:
        p = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=f, stderr=subprocess.STDOUT,
                             start_new_session=True)
        try:
            return p.wait(timeout=max(1, timeout))
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            return None
        finally:
            try:
                os.killpg(p.pid, signal.SIGKILL)
            except ProcessLookupError:
                pass


def tail(log, n=40):
    with open(log, errors="replace") as f:
        return "".join(f.readlines()[-n:])


def spark_home():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    if not home or not os.path.isdir(os.path.join(home, "jars")):
        fail("no Spark installation found (set SPARK_HOME)")
    return home


def sources():
    files = sorted(glob.glob(os.path.join(ROOT, "src", "main", "scala", "**", "*.scala"),
                             recursive=True))
    files += sorted(glob.glob(os.path.join(HARNESS, "src", "**", "*.scala"), recursive=True))
    files += [os.path.join(HARNESS, "build.sbt"), os.path.join(HARNESS, "project", "build.properties")]
    return files


def build(home, rundir):
    files = sources()
    if not any("/src/main/scala/graft/" in f for f in files):
        fail("the engine's sources (src/main/scala) are not in this checkout")
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    stamp = h.hexdigest()
    if os.path.exists(STAMP) and open(STAMP).read() == stamp:
        return
    env = dict(os.environ, SPARK_HOME=home, COURSIER_MODE="offline")
    repos = os.path.expanduser("~/.sbt/repositories")
    # sbt keeps its default temp dir: its boot socket path must fit the
    # unix-socket length limit, which a deep checkout path would exceed
    opts = ["-Dsbt.offline=true", "-Xmx2g", "-XX:-UsePerfData"]
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    log = os.path.join(rundir, "build.log")
    code = run_proc(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile"], HARNESS, env,
                    BUILD_TIMEOUT_S, log)
    if code != 0:
        sys.stderr.write(tail(log))
        fail(f"build failed (exit {code})", 3)
    with open(STAMP, "w") as f:
        f.write(stamp)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()

    t0 = time.time()
    home = spark_home()
    rundir = os.path.join(ROOT, ".opsbench", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(rundir, ignore_errors=True)
    dirs = {k: os.path.join(rundir, k) for k in ["input", "work", "out", "tmp"]}
    for d in dirs.values():
        os.makedirs(d)
    try:
        build(home, rundir)
        t_build = time.time()
        gen.generate(a.workload, a.seed, dirs["input"])
        cmd = ["java"] + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")] + [
            f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:ReservedCodeCacheSize=512m", "-XX:-UsePerfData",
            f"-Djava.io.tmpdir={dirs['tmp']}", "-Dspark.ui.enabled=false",
            "-cp", CLASSES + os.pathsep + os.path.join(home, "jars", "*"),
            "opsbench.Main", "--workload", a.workload, "--input", dirs["input"],
            "--work", dirs["work"], "--out", dirs["out"], "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--cores", str(min(CORES, os.cpu_count() or 1))]
        log = os.path.join(rundir, "harness.log")
        deadline = min(SETUP_ALLOWANCE_S + TIMED_ALLOWANCE * a.seconds,
                       RUN_LIMIT_S - CHECK_RESERVE_S - (time.time() - t_build))
        code = run_proc(cmd, ROOT, dict(os.environ), deadline, log)
        if code is None:
            sys.stderr.write(tail(log))
            fail(f"harness timed out after {deadline:.0f} s", 5)
        if code != 0:
            sys.stderr.write(tail(log))
            fail(f"harness failed (exit {code})", 4)
        t_check = time.time()
        correct, failed, problems = check.run(a.workload, dirs["input"], dirs["out"])
        t_end = time.time()
        for p in problems:
            print(f"opsbench: check: {p}", file=sys.stderr)
        result = json.load(open(os.path.join(dirs["out"], "result.json")))
        if a.trace:
            shutil.copy(os.path.join(dirs["out"], "spans.jsonl"),
                        os.path.join(ROOT, ".opsbench", f"spans-{a.workload}-{a.seed}.jsonl"))
        spec = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
        values = result["layers"] if a.trace else result["metrics"]
        metrics = {m["name"]: {"value": values[m["name"]], "unit": m["unit"]}
                   for m in spec["per_layer" if a.trace else "end_to_end"]}
        print(f"opsbench: {a.workload} seed {a.seed}: session {result['session_s']:.1f} s, "
              f"base {result['base_s']:.1f} s, warm-up {result['warmup_s']:.1f} s, jit wait {result['jit_wait_s']:.1f} s, "
              f"{result['cycles']} cycles in {result['timed_s']:.1f} s "
              f"({', '.join(f'{x:.2f}' for x in result['cycle_walls_s'])}), "
              f"check {t_end - t_check:.1f} s, wall {t_end - t0:.1f} s", file=sys.stderr)
        print(json.dumps({"correct": correct, "attempted": result["attempted"],
                          "failed": failed, "metrics": metrics}))
    finally:
        shutil.rmtree(rundir, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(rundir))
        except OSError:
            pass


if __name__ == "__main__":
    main()
