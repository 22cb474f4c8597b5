#!/usr/bin/env python3
"""Run the benchmark once per seed and print each metric's median and
spread (quartile distance over median), the figures its bounds are set by.

    python3 perfbench/spread.py --workload <name> --seeds 1-10 [--trace 0|1]
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--trace", default="0")
    ap.add_argument("-v", "--verbose", action="store_true", help="show run.py's own log")
    a = ap.parse_args()
    lo, hi = map(int, a.seeds.split("-"))
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fp:
        bench = json.load(fp)
    bounds = {m["name"]: m.get("bound") for m in bench["end_to_end"]}
    values = {}
    for seed in range(lo, hi + 1):
        p = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload",
                            a.workload, "--seed", str(seed), "--seconds",
                            str(bench["run_seconds"]), "--trace", a.trace],
                           cwd=ROOT, capture_output=True, text=True)
        line = json.loads(p.stdout.strip().splitlines()[-1])
        if a.verbose:
            print("\n".join(x for x in p.stderr.splitlines() if x.startswith("[perfbench]")))
        print(f"seed {seed}: exit {p.returncode} " + " ".join(
            f"{k}={v['value']:.4g}" for k, v in line["metrics"].items()), flush=True)
        for k, v in line["metrics"].items():
            values.setdefault(k, []).append(v["value"])
    for k, v in values.items():
        med = statistics.median(v)
        q = statistics.quantiles(v, n=4) if len(v) > 1 else [med, med, med]
        spread = (q[2] - q[0]) / med if med else 0.0
        b = bounds.get(k)
        print(f"{k:>12}: median {med:.4g}  spread {spread:.3f}" +
              (f"  bound {b}  ({spread / b:.2f} of it)" if b else ""))


if __name__ == "__main__":
    main()
