#!/usr/bin/env python3
"""Repo benchmark: three closed-loop workloads over the graft engine.

    python3 perfbench/run.py --workload survey_segmentation --seed 1 \
        --seconds 24 --trace 0

Run from the repository root. The first run builds the engine and the
harness with sbt (offline) and caches the classpath under .bench_build/;
later runs reuse it until a source file changes. Each run generates its
inputs from --seed, starts one JVM at local[<nproc>], sets up (session plus
one untimed warm-up op), runs passes over the workload's fixed op list for
--seconds, checks every op's output against the planted truth and prints
one JSON object as the last line of stdout. --trace 0 reports the
end-to-end metrics; --trace 1 reports the per-layer metrics from the
benchmark's own listener and spans. See perfbench/README.md.
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
sys.path.insert(0, HERE)

import checks  # noqa: E402
import gen  # noqa: E402
import metrics  # noqa: E402

BUILD_DIR = os.path.join(ROOT, ".bench_build", "perfbench")
TABLES = os.path.join(HERE, "data", "tables")
JVM_HEAP = "2g"
# seconds a run may take after the build; survey_segmentation is not a
# BENCHMARK.json workload and needs 2-3 minutes per JVM on a 4-core host
RUN_DEADLINE_S = {"survey_segmentation": 900.0}
BUILD_DEADLINE_S = 840.0
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]
SBT_OPTS = ("-Dsbt.override.build.repos=true -Dsbt.offline=true "
            "-Dsbt.log.noformat=true -Xmx3g -Xss128m")


def fail(msg, code=2):
    print(f"[perfbench] {msg}", file=sys.stderr)
    sys.exit(code)


# -- build ---------------------------------------------------------------------

def _sources():
    paths = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")]
    for base in (os.path.join(ROOT, "project"), os.path.join(HERE, "project")):
        paths += [os.path.join(base, f) for f in sorted(os.listdir(base))
                  if f.endswith((".sbt", ".properties", ".scala"))]
    for base in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")):
        for d, dirs, files in os.walk(base):
            dirs.sort()
            paths += [os.path.join(d, f) for f in sorted(files)]
    return paths


def fingerprint():
    h = hashlib.sha256()
    for p in _sources():
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()


def classpath():
    """Builds the engine and harness when their sources changed; returns the
    runtime classpath."""
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        fail("engine sources not found: run from a full checkout of the repo")
    fp = fingerprint()
    cp_file = os.path.join(BUILD_DIR, "classpath.txt")
    fp_file = os.path.join(BUILD_DIR, "fingerprint.txt")
    if os.path.isfile(cp_file) and os.path.isfile(fp_file):
        with open(fp_file) as f:
            if f.read().strip() == fp:
                with open(cp_file) as g:
                    return g.read().strip()
    os.makedirs(BUILD_DIR, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline", SBT_OPTS=SBT_OPTS)
    t0 = time.time()
    # own process group: the sbt launcher script forks the JVM that builds
    proc = subprocess.Popen(
        ["sbt", "--batch", "export perfbench/Runtime/fullClasspath"],
        cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
        text=True, start_new_session=True)
    try:
        out, _ = proc.communicate(timeout=BUILD_DEADLINE_S)
    except BaseException as e:  # the deadline, or this process being stopped
        os.killpg(proc.pid, signal.SIGKILL)
        proc.communicate()
        if not isinstance(e, subprocess.TimeoutExpired):
            raise
        fail("build timed out")
    lines = [l for l in out.splitlines() if l.strip()]
    if proc.returncode != 0 or not lines:
        sys.stderr.write("\n".join(l for l in lines if "[error]" in l)[-4000:] + "\n")
        fail("build failed")
    cp = lines[-1].strip()
    print(f"[perfbench] built in {time.time() - t0:.1f} s", file=sys.stderr)
    with open(cp_file, "w") as f:
        f.write(cp + "\n")
    with open(fp_file, "w") as f:
        f.write(fp + "\n")
    return cp


# -- host context --------------------------------------------------------------

def cpu_ticks():
    with open("/proc/stat") as f:
        parts = f.readline().split()[1:]
    return [int(x) for x in parts]


def host_context(start_ticks, end_ticks, load_start, cores, nproc):
    d = [b - a for a, b in zip(start_ticks, end_ticks)]
    total = max(1, sum(d[:8]))
    return {"nproc": nproc, "cores_used": cores,
            "load1_start": load_start, "load1_end": os.getloadavg()[0],
            "cpu_steal_frac": (d[7] / total) if len(d) > 7 else 0.0}


# -- run -------------------------------------------------------------------------

def run_jvm(cp, workload, inputs, work, seconds, trace, cores, timeout):
    result = os.path.join(work, "result.json")
    os.makedirs(work, exist_ok=True)
    cmd = (["java", f"-Xms{JVM_HEAP}", f"-Xmx{JVM_HEAP}", "-Xmn512m",
            "-XX:-UsePerfData",
            "-Dspark.callstack.depth=200",
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", cp, "perfbench.Main",
              "--workload", workload, "--inputs", inputs, "--tables", TABLES,
              "--work", work, "--seconds", str(seconds), "--trace", str(trace),
              "--cores", str(cores), "--result", result])
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    log = open(os.path.join(work, "jvm.log"), "w")
    # few malloc arenas: with one per thread the JVM's native memory, and so
    # its peak RSS, moved by ~30% between identical runs
    env = dict(os.environ, MALLOC_ARENA_MAX="2")
    proc = subprocess.Popen(cmd, cwd=work, env=env, stdout=log,
                            stderr=subprocess.STDOUT)
    try:
        proc.wait(timeout=max(1.0, timeout))
    except BaseException as e:  # the deadline, or this process being stopped
        proc.kill()
        proc.wait()
        if not isinstance(e, subprocess.TimeoutExpired):
            raise
    finally:
        log.close()
    if proc.returncode != 0 or not os.path.isfile(result):
        with open(os.path.join(work, "jvm.log")) as f:
            sys.stderr.write(f.read()[-4000:])
        fail(f"benchmark JVM exited with {proc.returncode}", 1)
    with open(result) as f:
        return json.load(f)


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(gen.WRITERS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    # SIGTERM unwinds like Ctrl-C, so the JVM or build it interrupts is killed
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    cp = classpath()
    deadline = time.time() + RUN_DEADLINE_S.get(args.workload, 170.0)
    nproc = os.cpu_count()
    cores = len(os.sched_getaffinity(0))
    work = os.path.join(BUILD_DIR, f"run-{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    inputs = os.path.join(work, "inputs")
    gen.WRITERS[args.workload](args.seed, inputs)

    load_start = os.getloadavg()[0]
    ticks = cpu_ticks()
    jvm_work = os.path.join(work, "jvm")
    res = run_jvm(cp, args.workload, inputs, jvm_work, args.seconds,
                  args.trace, cores, deadline - time.time())
    failures = checks.check(args.workload, inputs, jvm_work, res)
    host = host_context(ticks, cpu_ticks(), load_start, cores, nproc)

    out = metrics.summarise(res, failures, args.trace)
    spans_out = None
    if args.trace:
        spans_out = os.path.join(
            BUILD_DIR, f"spans-{args.workload}-seed{args.seed}.json")
        shutil.copyfile(os.path.join(jvm_work, "spans.json"), spans_out)
    shutil.rmtree(work, ignore_errors=True)

    print(json.dumps({"host": host, "workload": args.workload,
                      "seed": args.seed, "trace": args.trace,
                      "ops_failed_frac": out["failed"] / out["attempted"],
                      "check_failures": failures[:20], "spans_file": spans_out,
                      "detail": out["detail"]}))
    print(json.dumps({"correct": out["correct"], "attempted": out["attempted"],
                      "failed": out["failed"], "metrics": out["metrics"]}))
    return 0 if out["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
