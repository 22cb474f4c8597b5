#!/usr/bin/env python3
"""Checks that the benchmark's checks bite:

  - an injected fault (a wrong expected count, a spec naming a missing
    column) must lower ok_ratio and make run.py exit nonzero;
  - in a directory holding only BENCHMARK.json and perfbench/, run.py must
    exit nonzero without printing a result.

    python3 perfbench/selfcheck.py
"""
import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
CASES = [("linelist", "missing-column"), ("linelist", "wrong-count"),
         ("dedup_cc", "wrong-count")]


def run(cwd, workload, fault=None):
    cmd = [sys.executable, os.path.join(cwd, "perfbench", "run.py"), "--workload", workload,
           "--seed", "1", "--seconds", "1", "--trace", "0"]
    if fault:
        cmd += ["--fault", fault]
    return subprocess.run(cmd, cwd=cwd, capture_output=True, text=True, timeout=600)


def main():
    bad = 0
    for workload, fault in CASES:
        p = run(ROOT, workload, fault)
        lines = p.stdout.strip().splitlines()
        result = json.loads(lines[-1]) if lines else {}
        ok = result.get("metrics", {}).get("ok_ratio", {}).get("value", 1.0)
        good = p.returncode != 0 and result.get("failed", 0) > 0 and ok < 1
        bad += not good
        print(f"{'PASS' if good else 'FAIL'} {workload} --fault {fault}: exit "
              f"{p.returncode}, failed {result.get('failed')}, ok_ratio {ok}")

    bare = os.path.join(ROOT, ".bench_build", "bare")
    shutil.rmtree(bare, ignore_errors=True)
    os.makedirs(bare)
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
    shutil.copytree(HERE, os.path.join(bare, "perfbench"),
                    ignore=shutil.ignore_patterns("target", "__pycache__"))
    p = run(bare, "linelist")
    good = p.returncode != 0 and not p.stdout.strip()
    bad += not good
    print(f"{'PASS' if good else 'FAIL'} bare directory: exit {p.returncode}, "
          f"stdout {p.stdout.strip()[:80]!r}")
    shutil.rmtree(bare, ignore_errors=True)
    sys.exit(1 if bad else 0)


if __name__ == "__main__":
    main()
