#!/usr/bin/env python3
"""Steadiness check: two sets of runs of the same code, compared per
workload and end-to-end metric.

    python3 perfbench/steady.py [--runs 10] [--workloads coloc,loop] [--out results.json]

Every run gets its own seed, from 1 upwards. For each set the command
prints the median, the quartiles and the spread (quartile distance over
median); it then says whether each spread stays within the metric's
bound from BENCHMARK.json (setup_s is exempt), whether the two sets'
medians differ by no more than the bound in either direction, and
whether the share of failed operations is identical across all runs.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def quartiles(values: list[float]) -> tuple[float, float, float]:
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return q1, q2, q3


def spread(values: list[float]) -> float:
    q1, q2, q3 = quartiles(values)
    return (q3 - q1) / q2 if q2 else float("inf")


def worse_by(first: float, later: float, better: str) -> float:
    """How much worse ``later`` is than ``first``, as a share of ``first``."""
    if first == 0:
        return 0.0 if later == first else float("inf")
    change = (later - first) / first
    return change if better == "lower" else -change


def summarise(sets: list[list[dict]], spec: dict) -> tuple[list[str], bool]:
    """sets = [first, second]: the results of each set for one workload."""
    lines, ok = [], True
    for m in spec["end_to_end"]:
        name, bound = m["name"], m["bound"]
        medians = []
        for k, results in enumerate(sets):
            vals = [r["metrics"][name]["value"] for r in results]
            q1, q2, q3 = quartiles(vals)
            s = spread(vals)
            held = name == "setup_s" or s <= bound
            ok &= held
            medians.append(q2)
            lines.append(
                f"  {name:<14} set {k + 1}: median {q2:.4f}  q1 {q1:.4f}  q3 {q3:.4f}  "
                f"spread {s:.4f} (bound {bound}, a third {bound / 3:.4f}) {'ok' if held else 'WIDE'}"
            )
        # Two sets of the same code: a large change either way is noise,
        # not a gain, so the distance counts whatever its sign.
        w = worse_by(medians[0], medians[1], m["better"])
        held = abs(w) <= bound
        ok &= held
        lines.append(f"  {name:<14} set 2 vs set 1: worse by {w:+.4f} {'ok' if held else 'DIFFERS'}")
    shares = {(r["failed"], r["attempted"]) for results in sets for r in results}
    ratios = {f / a for f, a in shares}
    same = len(ratios) == 1
    ok &= same
    lines.append(f"  failed share: {sorted(ratios)} {'identical' if same else 'DIFFERS'}")
    correct = all(r["correct"] for results in sets for r in results)
    ok &= correct
    lines.append(f"  correct in every run: {correct}")
    return lines, ok


def run_once(workload: str, seed: int, seconds: int) -> dict:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"]
    proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    if proc.returncode != 0:
        raise RuntimeError(f"{' '.join(cmd)} exited {proc.returncode}:\n{proc.stderr[-2000:]}")
    return json.loads(proc.stdout.strip().splitlines()[-1])


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--workloads", default=None, help="comma-separated; default all")
    ap.add_argument("--out", default=None, help="write every run's result here as JSON")
    args = ap.parse_args(argv)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    workloads = args.workloads.split(",") if args.workloads else [w["name"] for w in spec["workloads"]]
    results = {w: [[], []] for w in workloads}
    seed = 1
    for k in range(2):
        for _ in range(args.runs):
            for w in workloads:  # interleaved, so host drift falls on both
                r = run_once(w, seed, spec["run_seconds"])
                r["seed"] = seed
                results[w][k].append(r)
                print(f"set {k + 1} {w} seed {seed}: "
                      + " ".join(f"{n}={v['value']:.4f}" for n, v in r["metrics"].items()), flush=True)
            seed += 1
    if args.out:
        with open(args.out, "w") as fh:
            json.dump(results, fh, indent=1)
    all_ok = True
    for w in workloads:
        lines, ok = summarise(results[w], spec)
        all_ok &= ok
        print(f"{w}: {'steady' if ok else 'NOT steady'}")
        print("\n".join(lines))
    return 0 if all_ok else 1


if __name__ == "__main__":
    sys.exit(main())
