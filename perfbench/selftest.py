#!/usr/bin/env python3
"""Self-test of the benchmark's correctness checks.

Runs every workload briefly with --corrupt 1, which makes one expected
result wrong, and asserts that the run reports it as a failed op rather
than a pass. Exits non-zero if any check is not live.

    python3 perfbench/selftest.py
"""
import json
import os
import subprocess
import sys

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
WORKLOADS = ("geo_point_queries", "pipeline_batch")


def main():
    dead = []
    for w in WORKLOADS:
        r = subprocess.run([sys.executable, os.path.join(BENCH_DIR, "run.py"), "--workload", w,
                            "--seed", "7", "--seconds", "1", "--trace", "0", "--corrupt", "1"],
                           capture_output=True, text=True)
        lines = r.stdout.strip().splitlines()
        result = json.loads(lines[-1]) if r.returncode == 0 and lines else None
        live = result is not None and not result["correct"] and result["failed"] >= 1
        got = (f"exit {r.returncode}" if result is None
               else f"correct={result['correct']} failed={result['failed']}/{result['attempted']}")
        print(f"{w}: {'live' if live else 'NOT LIVE'} ({got})")
        if not live:
            dead.append(w)
    if dead:
        sys.exit(f"checks not live: {dead}")


if __name__ == "__main__":
    main()
