#!/usr/bin/env python3
"""Benchmark entry point: builds the library and the benchmark if their
sources changed, runs one workload in a fresh JVM and prints its result.

    python3 benchmark/run.py --workload daily_batch --seed 1 --seconds 8 --trace 0 [--smoke]

Run it from the root of a checkout. The last stdout line is the result
object (`correct`, `attempted`, `failed`, `metrics`); the line before it
carries sizes, sample counts and the environment. Metric names and units
are checked against BENCHMARK.json. Everything the run writes stays under
the build directory, and its scratch directory is removed at exit.
"""
import argparse
import json
import math
import os
import shutil
import signal
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.dont_write_bytecode = True
sys.path.insert(0, HERE)
import build as builder  # noqa: E402

WORKLOADS = ("daily_batch", "curate_dedup")
CHILD_TIMEOUT_S = 170
HEAP = "2g"
# Spark 4 on JDK 17 outside spark-submit needs these (as in build.sbt).
ADD_OPENS = [x for p in (
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar") for x in ("--add-opens", p + "=ALL-UNNAMED")]


def fail(msg, code=2):
    print(f"run.py: {msg}", file=sys.stderr)
    sys.exit(code)


def expected_metrics(trace):
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    return {m["name"]: m["unit"] for m in spec["per_layer" if trace else "end_to_end"]}


def validate(result, trace):
    if set(result) != {"correct", "attempted", "failed", "metrics"}:
        fail(f"result keys {sorted(result)}", 3)
    if not (isinstance(result["attempted"], int) and result["attempted"] >= 1
            and isinstance(result["failed"], int)):
        fail("attempted/failed must be whole numbers, attempted >= 1", 3)
    want = expected_metrics(trace)
    got = {n: m["unit"] for n, m in result["metrics"].items()}
    if got != want:
        missing, extra = sorted(set(want) - set(got)), sorted(set(got) - set(want))
        fail(f"metrics differ from BENCHMARK.json: missing {missing}, extra {extra}, "
             f"units {[(n, got[n], want[n]) for n in got if n in want and got[n] != want[n]]}", 3)
    for n, m in result["metrics"].items():
        v = m["value"]
        if not isinstance(v, (int, float)) or isinstance(v, bool) or not math.isfinite(v):
            fail(f"metric {n} is not a finite number: {v!r}", 3)


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), required=True)
    ap.add_argument("--smoke", action="store_true",
                    help="smallest sizes (k = 1 tiles, 500 documents), all checks on")
    a = ap.parse_args()

    if not os.path.isdir(os.path.join(builder.LIB_SRC, "graft")):
        fail(f"library sources not found under {builder.LIB_SRC}; run from a full checkout")
    expected_metrics(a.trace)  # fail before building if the spec is unreadable
    classpath = builder.build()

    work = os.path.join(builder.build_dir(), "work", f"{a.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    cmd = ["java", f"-Xmx{HEAP}", *ADD_OPENS,
           "-Djava.io.tmpdir=" + os.path.join(work, "tmp"),
           "-Dlog4j2.configurationFile=" + os.path.join(HERE, "log4j2.properties"),
           "-cp", os.pathsep.join(classpath), "streambench.Main",
           "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
           "--trace", str(a.trace), "--smoke", "1" if a.smoke else "0", "--work", work]
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, text=True, cwd=ROOT)

    def stop(signum, _frame):
        proc.kill()
        proc.wait()
        shutil.rmtree(work, ignore_errors=True)
        sys.exit(128 + signum)

    signal.signal(signal.SIGTERM, stop)
    signal.signal(signal.SIGINT, stop)
    try:
        out, _ = proc.communicate(timeout=CHILD_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        fail(f"workload did not finish within {CHILD_TIMEOUT_S} s", 4)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    lines = [line for line in out.splitlines() if line.strip()]
    if proc.returncode != 0 or not lines:
        fail(f"workload exited with {proc.returncode}", 5)
    try:
        result = json.loads(lines[-1])
    except json.JSONDecodeError:
        fail(f"last line is not a result: {lines[-1][:200]}", 3)
    validate(result, a.trace)
    for line in lines[:-1]:
        print(line)
    print(json.dumps(result), flush=True)


if __name__ == "__main__":
    main()
