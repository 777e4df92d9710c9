#!/usr/bin/env python3
"""Tracing overhead of one workload and seed: traced minus untraced.

    python3 perfbench/overhead.py --workload query_read --seed 1

Runs perfbench/run.py once untraced and once traced with the same seed.
The traced run prints its own end-to-end figures as `fact traced.<name>`
lines; this prints, per end-to-end metric, traced minus untraced.
"""

import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def run(workload, seed, seconds, trace):
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload, "--seed", str(seed),
           "--seconds", str(seconds), "--trace", trace]
    out = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, text=True, check=True)
    return out.stdout.strip().splitlines()


def main():
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=20)
    a = ap.parse_args()
    untraced = json.loads(run(a.workload, a.seed, a.seconds, "0")[-1])["metrics"]
    traced = {}
    for line in run(a.workload, a.seed, a.seconds, "1"):
        if line.startswith("fact traced."):
            name, rest = line[len("fact traced."):].split("=", 1)
            traced[name] = float(rest.split()[0])
    for name, m in untraced.items():
        if name in traced:
            d = traced[name] - m["value"]
            print(f"{name}: traced {traced[name]:.4f} - untraced {m['value']:.4f} = {d:+.4f} {m['unit']}"
                  f" ({100 * d / m['value']:+.1f}%)")


if __name__ == "__main__":
    main()
