#!/usr/bin/env python3
"""Tracing overhead of the benchmark on one workload and seed.

    python3 perfbench/overhead.py --workload tvdb --seed 1 [--seconds 10]

Runs the workload untraced, then traced, and prints for every metric of the
report line (the workload's own named metrics, which both modes print) the
traced value, the untraced value and their relative difference.
"""
import argparse
import json
import subprocess
import sys
from pathlib import Path

RUN = Path(__file__).resolve().parent / "run.py"


def report(args, trace):
    proc = subprocess.run(
        [sys.executable, str(RUN), "--workload", args.workload,
         "--seed", str(args.seed), "--seconds", str(args.seconds),
         "--trace", str(trace)],
        stdout=subprocess.PIPE, text=True)
    if proc.returncode != 0:
        sys.exit(f"run with --trace {trace} failed ({proc.returncode})")
    lines = proc.stdout.strip().splitlines()
    return json.loads(lines[-2])["report"]["metrics"]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, default=10)
    args = ap.parse_args()
    plain, traced = report(args, 0), report(args, 1)
    print(f"{'metric':32} {'traced':>14} {'untraced':>14} {'overhead':>9}")
    for name, m in plain.items():
        a, b = traced[name]["value"], m["value"]
        rel = f"{(a - b) / b:+.1%}" if b else "n/a"
        print(f"{name:32} {a:14.4f} {b:14.4f} {rel:>9} {m['unit']}")


if __name__ == "__main__":
    main()
