#!/usr/bin/env python3
"""The benchmark's own test: every workload at its smallest size (k = 1
tiles, 500 curated documents, 20 families of 8), untraced and traced,
with every output check on. Fails unless each run reports correct = true,
no failed operation, and all metrics BENCHMARK.json lists.

    python3 benchmark/smoke_test.py
"""
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.dont_write_bytecode = True
sys.path.insert(0, HERE)
from run import WORKLOADS, expected_metrics  # noqa: E402


def main():
    bad = 0
    for workload in WORKLOADS:
        for trace in (0, 1):
            cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
                   "--seed", "7", "--seconds", "1", "--trace", str(trace), "--smoke"]
            r = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True)
            lines = [line for line in r.stdout.splitlines() if line.strip()]
            ok = r.returncode == 0 and lines
            if ok:
                res = json.loads(lines[-1])
                ok = (res["correct"] and res["failed"] == 0 and res["attempted"] > 0
                      and set(res["metrics"]) == set(expected_metrics(trace)))
            print(f"{'ok  ' if ok else 'FAIL'} {workload} trace={trace}", flush=True)
            if not ok:
                bad += 1
                print(r.stderr[-3000:], file=sys.stderr)
    sys.exit(1 if bad else 0)


if __name__ == "__main__":
    main()
