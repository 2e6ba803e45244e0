#!/usr/bin/env python3
"""Run one graft benchmark workload and print its metrics.

Usage, from the root of the repository:

    python3 perfbench/run.py --workload lake --seed 1 --seconds 15 --trace 0

Builds the engine and the harness with sbt when the sources changed since
the last build (the build goes to .bench_build/), then runs the workload in
one JVM on local[nproc]. With --trace 0 it prints the end-to-end metrics,
with --trace 1 the per-layer metrics of a traced run. The last line of
standard output is one JSON object:
{"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}.
Every run gets a fresh warehouse and java.io.tmpdir under .bench_run/,
deleted when it ends. A traced run leaves its spans in .bench_spans/.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build", "perfbench")
DATA = os.path.join(HERE, "data")
FINGERPRINTS = os.path.join(HERE, "fingerprints.tsv")
SPANS = os.path.join(ROOT, ".bench_spans")
WORKLOADS = ("lake", "llm_pipeline")
JVM_TIMEOUT_S = 170
JDK17_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_stamp():
    """Hash of every file the build reads, so a changed tree rebuilds."""
    h = hashlib.sha256()
    tops = [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project"),
            os.path.join(ROOT, "src", "main"), os.path.join(HERE, "build.sbt"),
            os.path.join(HERE, "project"), os.path.join(HERE, "src")]
    for top in tops:
        paths = [top] if os.path.isfile(top) else sorted(
            os.path.join(d, f) for d, ds, fs in os.walk(top)
            if "target" not in os.path.relpath(d, top).split(os.sep)
            for f in fs)
        for p in paths:
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def classpath():
    """The runtime classpath, building first if the sources changed."""
    stamp_file = os.path.join(BUILD, "stamp")
    cp_file = os.path.join(BUILD, "classpath")
    stamp = source_stamp()
    if os.path.exists(stamp_file) and os.path.exists(cp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                with open(cp_file) as g:
                    return g.read()
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Xmx3g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true",
                 f"-Dsbt.repository.config={repos}"]
    env.setdefault("SBT_OPTS", " ".join(opts))
    log = os.path.join(BUILD, "build.log")
    with open(log, "w") as out:
        rc = subprocess.call(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
             "export Runtime/fullClasspath"],
            cwd=HERE, env=env, stdout=out, stderr=subprocess.STDOUT,
            stdin=subprocess.DEVNULL)
    with open(log) as f:
        lines = f.read().splitlines()
    if rc != 0 or not lines:
        sys.stderr.write("\n".join(lines[-40:]) + "\n")
        fail(f"build failed (exit {rc}), log in {log}")
    cp = lines[-1].strip()
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return cp


def spans_file(a):
    """Where a traced run leaves its span tree, one JSON object a line."""
    os.makedirs(SPANS, exist_ok=True)
    return os.path.join(SPANS, f"{a.workload}-seed{a.seed}.jsonl")


def driver_heap():
    """A quarter of physical memory, between 2 and 4 GiB."""
    try:
        with open("/proc/meminfo") as f:
            kb = next(int(l.split()[1]) for l in f if l.startswith("MemTotal:"))
        return max(2, min(4, kb // (4 * 1048576)))
    except (OSError, StopIteration, ValueError):
        return 2


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--record", action="store_true",
                    help="store the warm-up results as the fingerprints")
    a = ap.parse_args()
    if not os.path.exists(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail(f"no graft sources under {ROOT}; run from a repository checkout")
    if not os.path.isdir(DATA):
        fail(f"no benchmark data under {DATA}")
    cp = classpath()
    # The build is not set-up: time set-up from here.
    t0_ms = int(time.time() * 1000)

    run_dir = os.path.join(ROOT, ".bench_run",
                           f"{a.workload}-{a.seed}-{os.getpid()}")
    tmp = os.path.join(run_dir, "tmp")
    warehouse = os.path.join(run_dir, "warehouse")
    local = os.path.join(run_dir, "local")
    for d in (tmp, warehouse, local):
        os.makedirs(d)
    out = os.path.join(run_dir, "result.json")
    heap = driver_heap()
    # A fixed heap, so no pass runs while the heap is still growing; and
    # JIT thresholds at 0.3 of their defaults, so the driver's hot paths
    # are compiled within the warm-up instead of through the timed passes.
    cmd = (["java", f"-Xms{heap}g", f"-Xmx{heap}g",
            "-XX:CompileThresholdScaling=0.3"]
           + [x for p in JDK17_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + [f"-Djava.io.tmpdir={tmp}", f"-Dspark.local.dir={local}",
              f"-Dderby.system.home={run_dir}",
              f"-Dderby.stream.error.file={os.path.join(run_dir, 'derby.log')}",
              "-cp", cp, "perfbench.Main",
              "--workload", a.workload, "--seed", str(a.seed),
              "--seconds", str(a.seconds), "--trace", str(a.trace),
              "--data", DATA, "--warehouse", warehouse,
              "--fingerprints", FINGERPRINTS, "--out", out,
              "--t0-ms", str(t0_ms)]
           + (["--spans", spans_file(a)] if a.trace else [])
           + (["--record"] if a.record else []))
    err_log = os.path.join(run_dir, "stderr.log")
    try:
        with open(err_log, "w") as err:
            proc = subprocess.Popen(cmd, cwd=run_dir, stdout=subprocess.PIPE,
                                    stderr=err, stdin=subprocess.DEVNULL,
                                    text=True)
            try:
                stdout, _ = proc.communicate(timeout=JVM_TIMEOUT_S)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.communicate()
                fail(f"run exceeded {JVM_TIMEOUT_S} s")
        sys.stdout.write(stdout)
        if proc.returncode != 0 or not os.path.exists(out):
            with open(err_log) as f:
                sys.stderr.write("".join(f.readlines()[-40:]))
            fail(f"benchmark JVM exited with {proc.returncode}")
        with open(out) as f:
            result = json.load(f)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    result.pop("info", None)
    print(json.dumps(result))


if __name__ == "__main__":
    main()
