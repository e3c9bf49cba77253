#!/usr/bin/env python3
"""Compare two sets of benchmark results, workload by workload.

    python3 perfbench/compare.py BASE NEW

BASE and NEW are each a directory of result records (as run.py writes them
to perfbench/results) or a list of record files separated by commas. Only
untraced records are compared. For every workload and end-to-end metric it
prints each side's median and quartiles, the pairs NEW wins (runs paired by
seed, else by order; ties count for neither) and a verdict:

  unresolved   BASE's own spread (quartile distance / median) exceeds the
               bound, and not every NEW run beats (or loses to) every BASE run
  regression   NEW's median is worse than BASE's by more than the bound
  gain         NEW wins at least 9/10 of the pairs and the medians differ by
               more than BASE's quartile distance
  same         none of the above
"""
import argparse
import glob
import json
import os
import statistics
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def load(spec):
    files = sorted(glob.glob(os.path.join(spec, "*.json"))) if os.path.isdir(spec) else spec.split(",")
    runs = {}
    for f in files:
        with open(f) as fh:
            r = json.load(fh)
        if r.get("trace") == 0:
            runs.setdefault(r["workload"], []).append(r)
    return runs


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, q2, q3


def verdict(base, new, bound, higher):
    """base and new are (seed, value) lists."""
    b_vals, n_vals = [v for _, v in base], [v for _, v in new]
    q1, med, q3 = quartiles(b_vals)
    new_med = quartiles(n_vals)[1]
    sign = 1 if higher else -1
    by_seed_b = dict(base)
    pairs = [(by_seed_b[s], v) for s, v in new if s in by_seed_b] or list(zip(b_vals, n_vals))
    wins = sum(1 for b, n in pairs if sign * (n - b) > 0)
    spread = (q3 - q1) / med if med else float("inf")
    all_better = min(sign * x for x in n_vals) > max(sign * x for x in b_vals)
    all_worse = max(sign * x for x in n_vals) < min(sign * x for x in b_vals)
    worse_by = sign * (med - new_med) / med if med else 0.0
    if spread > bound and not (all_better or all_worse):
        v = "unresolved"
    elif worse_by > bound:
        v = "regression"
    elif pairs and wins >= 0.9 * len(pairs) and abs(new_med - med) > (q3 - q1):
        v = "gain"
    else:
        v = "same"
    return v, wins, len(pairs), spread


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("base")
    ap.add_argument("new")
    args = ap.parse_args()
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        spec = json.load(f)
    base, new = load(args.base), load(args.new)
    bad = False
    for w in [x["name"] for x in spec["workloads"]]:
        b, n = base.get(w, []), new.get(w, [])
        print(f"== {w}: {len(b)} base runs, {len(n)} new runs")
        if not b or not n:
            print("   missing runs on one side")
            bad = True
            continue
        print(f"   {'metric':14s} {'base median [q1, q3]':>34s} {'new median [q1, q3]':>34s} "
              f"{'wins':>7s} {'spread':>7s} {'bound':>6s}  verdict")
        for m in spec["end_to_end"]:
            name = m["name"]
            bv = [(r["stamp"].get("seed"), r["metrics"][name]) for r in b]
            nv = [(r["stamp"].get("seed"), r["metrics"][name]) for r in n]
            v, wins, npairs, spread = verdict(bv, nv, m["bound"], m["better"] == "higher")
            bq, nq = quartiles([x for _, x in bv]), quartiles([x for _, x in nv])
            fmt = lambda q: f"{q[1]:.4g} [{q[0]:.4g}, {q[2]:.4g}]"
            print(f"   {name:14s} {fmt(bq):>34s} {fmt(nq):>34s} {wins:>3d}/{npairs:<3d} "
                  f"{spread:7.3f} {m['bound']:6.2f}  {v} ({m['unit']}, {m['better']} is better)")
            bad |= v == "regression"
        fails = sum(r["failed"] for r in n)
        if fails:
            print(f"   {fails} failed operations in new runs")
            bad = True
    sys.exit(1 if bad else 0)


if __name__ == "__main__":
    main()
