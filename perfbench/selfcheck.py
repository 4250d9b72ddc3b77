#!/usr/bin/env python3
"""Trace self-check: two traced runs of the same code and seed must report
exactly equal deterministic counters (run.DETERMINISTIC) on every workload.

    python3 perfbench/selfcheck.py [--seed N] [--seconds S] [workload ...]

Each run's last stdout line is parsed back as the benchmark's metrics
record. Exits 1 on any difference or unparsable record.
"""
import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import run  # noqa: E402


def traced(workload, seed, seconds):
    """(workload counters, {query: its report row}) of one traced run."""
    out = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", "1"],
        stdout=subprocess.PIPE, text=True, check=True).stdout.splitlines()
    print("\n".join(out[:-1]), file=sys.stderr)  # the full report
    record = json.loads(out[-1])
    rows = {line.split()[1]: line.strip()
            for line in out if line.startswith("  row ")}
    return ({k: record["metrics"][k]["value"] for k in run.DETERMINISTIC},
            rows)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=5)
    ap.add_argument("workloads", nargs="*", default=sorted(run.WORKLOADS))
    a = ap.parse_args()
    bad = 0
    for w in a.workloads:
        (first, rows1), (second, rows2) = (traced(w, a.seed, a.seconds)
                                           for _ in range(2))
        for k in run.DETERMINISTIC:
            same = first[k] == second[k]
            bad += not same
            print(f"{w:<12} {k:<26} {first[k]:>12g} {second[k]:>12g} "
                  f"{'same' if same else 'DIFFERENT'}")
        for q in sorted(set(rows1) | set(rows2)):
            if rows1.get(q) != rows2.get(q):
                print(f"{w:<12} differs: {rows1.get(q)} | {rows2.get(q)}")
    print("self-check", "passed" if bad == 0 else f"failed ({bad} counters)")
    sys.exit(1 if bad else 0)


if __name__ == "__main__":
    main()
