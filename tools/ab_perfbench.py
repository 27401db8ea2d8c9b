#!/usr/bin/env python3
"""Interleaved parent/change runs of the repository benchmark.

    python3 tools/ab_perfbench.py --parent ../parent-checkout \\
        --workloads query update --seeds 1-10 --seconds 8

Runs the unchanged ``perfbench/run.py`` of two checkouts — the parent
commit at ``--parent`` and the tree this script sits in — once per
workload and seed, alternating which side runs first from one seed to the
next. Each run's result line is printed as it arrives (prefixed with the
side, workload and seed), so the output is the record of every run. At the
end, per workload and metric, it prints each side's median and quartiles,
how many pairs the change won (ties count for neither side), and whether a
gain could be claimed: the change wins at least nine tenths of the pairs
and the medians differ by more than the parent's interquartile range.

Metric names and their better direction come from ``BENCHMARK.json``; the
benchmark code itself is only ever run, never imported.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def parse_seeds(text: str) -> list[int]:
    """``1-5,9`` → [1, 2, 3, 4, 5, 9]."""
    seeds = []
    for part in text.split(","):
        lo, _, hi = part.partition("-")
        seeds.extend(range(int(lo), int(hi or lo) + 1))
    return seeds


def run_once(checkout: str, workload: str, seed: int, seconds: float, trace: int) -> dict:
    """One ``perfbench/run.py`` run in ``checkout``; its result dict, or
    ``{"error": ...}`` when it printed none or its last line is not a JSON
    object."""
    cmd = [
        sys.executable, "perfbench/run.py",
        "--workload", workload, "--seed", str(seed),
        "--seconds", str(seconds), "--trace", str(trace),
    ]
    proc = subprocess.run(cmd, cwd=checkout, capture_output=True, text=True)
    lines = proc.stdout.splitlines()
    if proc.returncode != 0 or not lines:
        return {"error": f"exit {proc.returncode}: {proc.stderr.strip()[-500:]}"}
    try:
        result = json.loads(lines[-1])
    except json.JSONDecodeError:
        return {"error": f"no result line: {lines[-1][-500:]}"}
    if not isinstance(result, dict):
        return {"error": f"no result line: {lines[-1][-500:]}"}
    return result


def quartiles(values: list[float]) -> tuple[float, float, float]:
    if len(values) < 2:
        return values[0], values[0], values[0]
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return q1, q2, q3


def summarize(workload: str, pairs: list[tuple[dict, dict]], better: dict[str, str]) -> None:
    """Per-metric medians, quartiles and wins of the change over ``pairs``
    of (parent, change) results of one workload."""
    ok = [(p, c) for p, c in pairs if "metrics" in p and "metrics" in c]
    print(f"\n== {workload}: {len(ok)} complete pairs of {len(pairs)}")
    for side, idx in (("parent", 0), ("change", 1)):
        runs = [pair[idx] for pair in pairs]
        bad = sum(
            1 for r in runs if "metrics" not in r or not r.get("correct") or r.get("failed")
        )
        print(f"  {side}: {bad} of {len(runs)} runs incorrect, failed or missing")
    if not ok:
        return
    print(
        f"  {'metric':<40} {'parent q1/med/q3':>30} {'change q1/med/q3':>30}"
        f" {'wins':>6} {'delta':>8}  gain?"
    )
    names = [n for n in better if all(n in p["metrics"] and n in c["metrics"] for p, c in ok)]
    for name in names:
        par = [p["metrics"][name]["value"] for p, _ in ok]
        chg = [c["metrics"][name]["value"] for _, c in ok]
        sign = -1.0 if better[name] == "lower" else 1.0
        wins = sum(1 for a, b in zip(par, chg) if sign * (b - a) > 0)
        pq = quartiles(par)
        cq = quartiles(chg)
        gap = sign * (cq[1] - pq[1])
        claim = wins >= 0.9 * len(ok) and gap > pq[2] - pq[0]
        rel = (cq[1] - pq[1]) / pq[1] if pq[1] else float("nan")
        print(
            f"  {name:<40} {'/'.join(f'{v:.4g}' for v in pq):>30}"
            f" {'/'.join(f'{v:.4g}' for v in cq):>30}"
            f" {wins:>3}/{len(ok):<2} {rel:>+8.1%}  {'yes' if claim else 'no'}"
        )


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--parent", required=True, help="checkout of the parent commit")
    ap.add_argument("--workloads", nargs="+", required=True)
    ap.add_argument("--seeds", required=True, help="e.g. 1-10 or 1,3,5")
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    better = {m["name"]: m["better"] for m in bench["end_to_end"]}
    if args.trace:
        better.update({m["name"]: m["better"] for m in bench["per_layer"]})
    sides = {"parent": os.path.abspath(args.parent), "change": ROOT}
    results: dict[str, list[tuple[dict, dict]]] = {}
    for workload in args.workloads:
        for i, seed in enumerate(parse_seeds(args.seeds)):
            order = ("parent", "change") if i % 2 == 0 else ("change", "parent")
            got = {}
            for side in order:
                got[side] = run_once(sides[side], workload, seed, args.seconds, args.trace)
                print(f"{side} {workload} seed={seed} {json.dumps(got[side])}", flush=True)
            results.setdefault(workload, []).append((got["parent"], got["change"]))
    for workload, pairs in results.items():
        summarize(workload, pairs, better)
    return 0


if __name__ == "__main__":
    sys.exit(main())
