#!/usr/bin/env python3
"""Benchmark of the lake pipeline: BI serving over Thrift, sanitize-and-register
ingest, and row-level DML.

    python3 perfbench/run.py --workload bi_serve --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --quick      # one short pass per workload, checks only

Builds the program from source on first use (see build.py), runs one
workload in a fresh JVM on a fresh warehouse that is deleted afterwards,
and prints one JSON line: whether every output was correct, the operations
attempted and failed, and the end-to-end metrics (--trace 0) or the
per-layer metrics (--trace 1) named in BENCHMARK.json.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import build  # noqa: E402
import metrics  # noqa: E402

WORKLOADS = ["bi_serve", "lake_ingest", "lake_dml"]
# one run must end within 180 s; a run that also built gets the build's time on top
RUN_LIMIT_S = 170
JAVA_OPTS = [
    # a fixed, pre-touched heap: peak RSS then moves with what the program
    # holds outside the heap, not with how far the collector grew the heap
    "-XX:+IgnoreUnrecognizedVMOptions", "-Xms2g", "-Xmx2g", "-XX:+AlwaysPreTouch", "-Xss4m",
    "-XX:-UsePerfData", "-Duser.timezone=UTC", "-Dspark.ui.enabled=false",
] + [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "jdk.internal.ref", "sun.nio.ch", "sun.nio.cs", "sun.security.action",
    "sun.util.calendar")]


def slots():
    """Spark task slots and Thrift clients, both at most the core count."""
    n = os.cpu_count() or 1
    return min(4, n), min(2, n)


def run_jvm(cp, workload, seed, seconds, trace, quick, limit_s):
    base = os.path.dirname(os.path.dirname(cp.split(os.pathsep)[0]))
    run_dir = os.path.join(base, "runs", f"{workload}-{os.getpid()}-{int(time.time() * 1000)}")
    os.makedirs(os.path.join(run_dir, "tmp"))
    n_slots, n_clients = slots()
    cmd = ["java"] + JAVA_OPTS + [
        f"-Djava.io.tmpdir={os.path.join(run_dir, 'tmp')}",
        f"-Dgraft.tmp={os.path.join(run_dir, 'tmp')}",
        "-cp", cp, "perfbench.Main",
        "--workload", workload, "--seed", str(seed), "--seconds", str(seconds),
        "--trace", "1" if trace else "0", "--quick", "1" if quick else "0",
        "--dir", run_dir, "--start-ms", str(int(time.time() * 1000)),
        "--slots", str(n_slots), "--clients", str(n_clients)]
    log_path = os.path.join(run_dir, "jvm.log")
    try:
        with open(log_path, "w") as log:
            proc = subprocess.Popen(cmd, cwd=run_dir, stdout=log, stderr=subprocess.STDOUT)
            try:
                proc.wait(timeout=limit_s)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
                raise RuntimeError(f"{workload}: JVM ran past {limit_s:.0f} s")
        result = os.path.join(run_dir, "result.json")
        if proc.returncode != 0 or not os.path.exists(result):
            with open(log_path) as fh:
                tail = fh.read()[-4000:]
            raise RuntimeError(f"{workload}: JVM exited {proc.returncode}\n{tail}")
        with open(result) as fh:
            return json.load(fh)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


def quick(cp):
    """One short pass of every workload with every check; no numbers."""
    all_ok = True
    for wl in WORKLOADS:
        start = time.time()
        raw = run_jvm(cp, wl, 1, 0, False, True, RUN_LIMIT_S)
        ok = raw["correct"] and all(op["ok"] for op in raw["ops"])
        all_ok &= ok
        print(f"{wl}: {'ok' if ok else 'FAILED'} ({len(raw['ops'])} operations, "
              f"{time.time() - start:.0f} s)")
        for e in raw["errors"] + [op["error"] for op in raw["ops"] if not op["ok"]]:
            print(f"  {e}")
    print("quick mode: correctness only, timings are not measurements")
    return 0 if all_ok else 1


def main():
    start = time.time()
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--quick", action="store_true")
    a = ap.parse_args()
    if not a.quick and not a.workload:
        ap.error("--workload is required unless --quick")
    try:
        decl = metrics.declared()
        cp, built = build.ensure_built()
        if a.quick:
            return quick(cp)
        limit = RUN_LIMIT_S - (0 if built else time.time() - start)
        raw = run_jvm(cp, a.workload, a.seed, a.seconds, a.trace == 1, False, limit)
        out = metrics.report(raw, a.trace == 1, decl)
    except (RuntimeError, ValueError, OSError) as e:
        print(f"perfbench: {e}", file=sys.stderr)
        return 1
    for e in raw["errors"]:
        print(f"check failed: {e}", file=sys.stderr)
    for op in raw["ops"]:
        if not op["ok"]:
            print(f"operation failed: {op['kind']}: {op['error']}", file=sys.stderr)
    print(json.dumps(out))
    return 0


if __name__ == "__main__":
    sys.exit(main())
