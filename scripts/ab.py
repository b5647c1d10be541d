#!/usr/bin/env python3
"""Interleaved A/B of the repo benchmark between two checkouts.

Usage:
  python3 scripts/ab.py PARENT_DIR CHANGE_DIR --workload W --seeds A-B [--trace 0|1]

Each seed A..B is one pair: `perfbench/run.py --workload W --seed s` runs
once in PARENT_DIR and once in CHANGE_DIR, each in its own checkout, and
the side that runs first alternates from pair to pair (the parent first on
the first pair), so a drift of the host over the session lands on both
sides alike. Both trees are built (`perfbench/build.py`) before the first
pair, so no timed run pays for a compile.

Prints every run (pair, seed, side, order, correct, failed, metrics), then
for each metric the parent's and the change's q1/median/q3, the change's
median over the parent's, the pairs the change won (by the metric's
`better` direction in CHANGE_DIR's BENCHMARK.json), the parent's IQR and
whether the median gap exceeds it. Reads, never writes, either tree's
`perfbench/` and `BENCHMARK.json`.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys


def run(tree, workload, seed, trace):
    """One run.py invocation; its result JSON, or None when it produced none."""
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(seed),
           "--trace", str(trace)]
    p = subprocess.run(cmd, cwd=tree, capture_output=True, text=True)
    lines = [l for l in p.stdout.splitlines() if l.startswith("{")]
    if p.returncode != 0 or not lines:
        tail = "\n".join(p.stderr.splitlines()[-20:])
        print(f"  run failed in {tree} (exit {p.returncode}):\n{tail}", flush=True)
        return None
    return json.loads(lines[-1])


def quartiles(xs):
    """q1, median, q3 (inclusive method, so 2 runs already have quartiles)."""
    if len(xs) == 1:
        return xs[0], xs[0], xs[0]
    q1, med, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, med, q3


def main():
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("parent")
    p.add_argument("change")
    p.add_argument("--workload", required=True)
    p.add_argument("--seeds", required=True, help="A-B, inclusive")
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = p.parse_args()
    lo, _, hi = a.seeds.partition("-")
    seeds = list(range(int(lo), int(hi or lo) + 1))
    trees = {"parent": os.path.abspath(a.parent), "change": os.path.abspath(a.change)}
    bench = json.load(open(os.path.join(trees["change"], "BENCHMARK.json")))
    better = {m["name"]: m["better"] for m in bench["end_to_end"] + bench["per_layer"]}

    for side, tree in trees.items():
        print(f"building {side}: {tree}", flush=True)
        subprocess.run([sys.executable, "perfbench/build.py"], cwd=tree, check=True)

    results = {"parent": [], "change": []}
    for i, seed in enumerate(seeds):
        order = ("parent", "change") if i % 2 == 0 else ("change", "parent")
        for k, side in enumerate(order):
            r = run(trees[side], a.workload, seed, a.trace)
            results[side].append(r)
            if r is None:
                continue
            vals = " ".join(f"{m}={v['value']:.4f}" for m, v in r["metrics"].items())
            print(f"pair {i + 1} seed {seed} {side:6s} ran {'first' if k == 0 else 'second'}: "
                  f"correct={r['correct']} failed={r['failed']}/{r['attempted']} {vals}", flush=True)

    pairs = [(p_, c) for p_, c in zip(results["parent"], results["change"])
             if p_ is not None and c is not None]
    bad = sum(1 for side in results.values() for r in side if r is None or not r["correct"] or r["failed"])
    print(f"\n{a.workload}: {len(pairs)} complete pairs of {len(seeds)}; "
          f"{bad} runs failed, incorrect or with failed operations")
    if not pairs:
        return 1
    print(f"{'metric':26s} {'parent q1/med/q3':>28s} {'change q1/med/q3':>28s} "
          f"{'ratio':>6s} {'wins':>6s} {'parent IQR':>10s}  gap>IQR")
    for m in pairs[0][0]["metrics"]:
        ps = [p_["metrics"][m]["value"] for p_, _ in pairs]
        cs = [c["metrics"][m]["value"] for _, c in pairs]
        lower = better.get(m, "lower") == "lower"
        wins = sum(1 for x, y in zip(ps, cs) if (y < x if lower else y > x))
        pq, cq = quartiles(ps), quartiles(cs)
        iqr = pq[2] - pq[0]
        gap = (pq[1] - cq[1]) if lower else (cq[1] - pq[1])
        ratio = cq[1] / pq[1] if pq[1] else float("nan")
        print(f"{m:26s} {'/'.join(f'{v:.4f}' for v in pq):>28s} {'/'.join(f'{v:.4f}' for v in cq):>28s} "
              f"{ratio:6.3f} {wins:>2d}/{len(pairs):<3d} {iqr:10.4f}  {'yes' if gap > iqr else 'no'}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
