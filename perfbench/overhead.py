#!/usr/bin/env python3
"""Tracing overhead: traced minus untraced end-to-end numbers on one seed.

    python3 perfbench/overhead.py --workload <name> --seed <n> [--seconds <s>]

Runs the workload twice through run.py, with --trace 0 and --trace 1, and
prints each end-to-end metric of both runs and their difference. Both runs
write their full metrics to perfbench/.out/, which is where the traced
run's end-to-end numbers come from (its result line holds only the
per-layer metrics).
"""
import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, help="default: run_seconds of BENCHMARK.json")
    args = ap.parse_args()
    bench = json.load(open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")))
    seconds = args.seconds or bench["run_seconds"]
    runs = {}
    for trace in (0, 1):
        r = subprocess.run([sys.executable, os.path.join(HERE, "run.py"),
                            "--workload", args.workload, "--seed", str(args.seed),
                            "--seconds", str(seconds), "--trace", str(trace)],
                           stdout=subprocess.DEVNULL)
        if r.returncode != 0:
            sys.exit(f"run with --trace {trace} failed")
        path = os.path.join(HERE, ".out",
                            f"{args.workload}-seed{args.seed}-trace{trace}.metrics.json")
        runs[trace] = json.load(open(path))
    print(f"{'metric':20s} {'untraced':>12s} {'traced':>12s} {'traced-untraced':>16s}")
    for m in bench["end_to_end"]:
        a, b = runs[0][m["name"]]["value"], runs[1][m["name"]]["value"]
        print(f"{m['name']:20s} {a:12.4g} {b:12.4g} {b - a:+16.4g} {m['unit']}"
              f" ({(b - a) / a:+.1%})")


if __name__ == "__main__":
    main()
