#!/usr/bin/env python3
"""Benchmark command for the graft crawl engine and its query suite.

    python3 perfbench/run.py --workload crawl_deep|queries \
        --seed N --seconds S --trace 0|1

Run from the repository root. It builds the engine's sources together with
the benchmark (sbt, offline) when they changed since the last build, runs one
JVM at local[nproc] with the heap sized from MemTotal, and prints as its last
line one JSON object: {"correct", "attempted", "failed", "metrics"}. With
--trace 0 the metrics are the end-to-end metrics of BENCHMARK.json, with
--trace 1 the per-layer ones. See perfbench/README.md.
"""
import argparse
import hashlib
import json
import math
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")
TARGET = os.path.join(HERE, "target")
CLASSPATH = os.path.join(TARGET, "classpath.txt")
STAMP = os.path.join(TARGET, "sources.sha1")
JVM_TIMEOUT_S = 170

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


def sources_digest():
    """SHA-1 over every file the build compiles or is configured by."""
    h = hashlib.sha1()
    roots = [ENGINE_SRC, os.path.join(HERE, "src", "main"),
             os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        paths = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(r) for f in fs)
        for p in paths:
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def build():
    digest = sources_digest()
    if os.path.exists(CLASSPATH) and os.path.exists(STAMP):
        with open(STAMP) as f:
            if f.read().strip() == digest:
                return
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    repos = os.path.expanduser("~/.sbt/repositories")
    offline = "-Dsbt.offline=true -Xmx2g"
    if os.path.exists(repos):
        offline = ("-Dsbt.override.build.repos=true "
                   f"-Dsbt.repository.config={repos} " + offline)
    env.setdefault("SBT_OPTS", offline)
    print("perfbench: building (sbt compile)", file=sys.stderr)
    r = subprocess.run(["sbt", "-batch", "-Dsbt.log.noformat=true", "compile",
                        "writeClasspath"], cwd=HERE, env=env,
                       stdout=sys.stderr, stderr=sys.stderr)
    if r.returncode != 0 or not os.path.exists(CLASSPATH):
        fail(4, "build failed")
    with open(STAMP, "w") as f:
        f.write(digest)


def heap_gb():
    """Driver heap as the repository's tier-1 command sizes SPARK_DRIVER_MEM:
    MemTotal / 2, in whole GB, clamped to [2, 8]."""
    with open("/proc/meminfo") as f:
        kb = next(int(l.split()[1]) for l in f if l.startswith("MemTotal:"))
    return min(8, max(2, kb // 2097152))


def declared_metrics(trace):
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return spec["per_layer" if trace else "end_to_end"]


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=["crawl_deep", "queries"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    # for the benchmark's own tests: fewer crawl forums, and a pin
    # deliberately corrupted so its check must fail
    ap.add_argument("--forums", type=int, default=0, help=argparse.SUPPRESS)
    ap.add_argument("--corrupt-pin", action="store_true", help=argparse.SUPPRESS)
    a = ap.parse_args()

    # measure the default program: engine behaviour knobs must be unset
    knobs = sorted(k for k in os.environ if k.startswith("GRAFT_"))
    if knobs:
        fail(2, "refusing to run with engine knobs set: " + ", ".join(knobs))
    if not os.path.isfile(os.path.join(ENGINE_SRC, "graft", "SparkEntry.scala")):
        fail(3, f"engine sources not found under {ENGINE_SRC}")
    metrics = declared_metrics(a.trace)

    build()
    work = os.path.join(HERE, "work", f"{a.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    with open(CLASSPATH) as f:
        cp = f.read().strip()
    cmd = ["java"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += [f"-Xmx{heap_gb()}g", f"-Djava.io.tmpdir={work}/tmp",
            f"-Dlog4j2.configurationFile={HERE}/log4j2.properties",
            "-cp", cp, "graft.perfbench.Main",
            "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace),
            "--work", work]
    if a.forums:
        cmd += ["--forums", str(a.forums)]
    if a.corrupt_pin:
        cmd += ["--corrupt-pin"]

    t0 = time.time()
    proc = subprocess.Popen(cmd, cwd=ROOT, stdout=subprocess.PIPE,
                            stderr=sys.stderr, text=True,
                            start_new_session=True)
    try:
        out, _ = proc.communicate(timeout=JVM_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        shutil.rmtree(work, ignore_errors=True)
        fail(5, f"benchmark JVM exceeded {JVM_TIMEOUT_S} s")
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
    if a.trace and os.path.exists(os.path.join(work, "spans.json")):
        os.makedirs(os.path.join(HERE, "out"), exist_ok=True)
        shutil.copy(os.path.join(work, "spans.json"), os.path.join(
            HERE, "out", f"spans-{a.workload}-seed{a.seed}.json"))
    shutil.rmtree(work, ignore_errors=True)
    if proc.returncode != 0:
        fail(6, f"benchmark JVM exited with {proc.returncode}")

    result = None
    for line in out.splitlines():
        if line.startswith("PERFBENCH_RESULT "):
            result = json.loads(line[len("PERFBENCH_RESULT "):])
        elif line.strip():
            print(line)
    if result is None:
        fail(7, "benchmark JVM printed no result")
    values = result["metrics"]
    missing = [m["name"] for m in metrics if m["name"] not in values]
    if missing:
        fail(8, "metrics not produced: " + ", ".join(missing))
    # a value that is not a finite number was not measured
    values = {k: v if isinstance(v, (int, float)) and math.isfinite(v) else None
              for k, v in values.items()}
    for msg in result["failures"]:
        print(f"perfbench: FAILED {msg}", file=sys.stderr)
    failed = len(result["failures"])
    print(f"perfbench: {a.workload} done in {time.time() - t0:.1f} s",
          file=sys.stderr)
    print(json.dumps({
        "correct": failed == 0 and all(
            values[m["name"]] is not None for m in metrics),
        "attempted": result["attempted"],
        "failed": failed,
        "metrics": {m["name"]: {"value": values[m["name"]], "unit": m["unit"]}
                    for m in metrics},
    }))


if __name__ == "__main__":
    main()
