#!/usr/bin/env python3
"""Proves the benchmark's output checks bite.

    python3 ftbench/test_checks.py

Run from the repository root. It runs the benchmark once per check with
--fault CHECK, which corrupts that check's first output: a dropped row in an
ft_serve response, a flipped bit in one recorded ft_serve report fingerprint,
a changed emitted-row hash in ft_stream. Each run must exit 1, print a CHECK
FAILED line and end with a result whose "correct" is false. It also checks
that an unknown workload and a directory without the engine sources fail
without a result.
"""
import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
RUN = os.path.join(HERE, "run.py")


def bench(*args, cwd=ROOT):
    return subprocess.run([sys.executable, RUN, *args], cwd=cwd,
                          capture_output=True, text=True, timeout=900)


def main():
    failures = []
    for w, check in (("ft_serve", "response"), ("ft_serve", "fingerprint"),
                     ("ft_stream", "batch")):
        r = bench("--workload", w, "--seed", "1", "--seconds", "1", "--trace", "0",
                  "--fault", check)
        lines = r.stdout.strip().splitlines()
        try:
            result = json.loads(lines[-1])
        except (IndexError, ValueError):
            result = {}
        ok = (r.returncode == 1 and any("CHECK FAILED" in l for l in lines)
              and result.get("correct") is False)
        print(f"{w} {check}: fault run exit {r.returncode}, correct={result.get('correct')}: "
              f"{'rejected' if ok else 'NOT REJECTED'}")
        if not ok:
            failures.append(f"{w} {check}")
            print(r.stdout[-2000:], r.stderr[-2000:], sep="\n")

    r = bench("--workload", "no_such_workload", "--seed", "1", "--seconds", "1", "--trace", "0")
    print(f"unknown workload: exit {r.returncode}")
    if r.returncode == 0 or r.stdout.strip():
        failures.append("unknown workload")

    bare = os.path.join(ROOT, ".bench_build", "ftbench-bare")
    shutil.rmtree(bare, ignore_errors=True)
    shutil.copytree(HERE, os.path.join(bare, "ftbench"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
    r = subprocess.run([sys.executable, "ftbench/run.py", "--workload", "ft_serve", "--seed", "1",
                        "--seconds", "1", "--trace", "0"], cwd=bare,
                       capture_output=True, text=True, timeout=180)
    shutil.rmtree(bare, ignore_errors=True)
    print(f"without engine sources: exit {r.returncode}")
    if r.returncode == 0 or r.stdout.strip():
        failures.append("without engine sources")

    if failures:
        print("FAILED:", ", ".join(failures))
        sys.exit(1)
    print("all checks bite")


if __name__ == "__main__":
    main()
