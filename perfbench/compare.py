#!/usr/bin/env python3
"""Compare two sets of benchmark runs.

Usage: python3 perfbench/compare.py BASE CHANGE

BASE and CHANGE are directories holding run records as written by
perfbench/run.py (.bench_build/results/... ; copy it aside between the two
sets). Only untraced runs count. For each workload and end-to-end metric of
BENCHMARK.json it prints each side's median and quartiles, the share of pairs
the change won (runs paired by seed, ties counting for neither side) and a
verdict against the metric's bound:

  improved    the change wins at least 9 in 10 pairs, and the medians differ
              by more than the base's own quartile spread;
  regressed   the change's median is worse by more than the bound;
  no worse    within the bound, with both sides' spread within it too (or
              every change run better than every base run);
  unresolved  a side's spread is wider than the bound.

The detail metrics each run prints (per-op latencies, KMR, SAV, recovery,
catalog totals) follow, as medians only.
"""
import json
import statistics
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent


def load(d):
    runs = {}
    for p in sorted(Path(d).rglob("*.json")):
        rec = json.loads(p.read_text())
        ctx = rec.get("context", {})
        if ctx.get("trace") != 0 or not rec["result"].get("correct"):
            continue
        runs.setdefault(ctx["workload"], []).append(rec)
    return runs


def quartiles(xs):
    if len(xs) == 1:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, q2, q3


def spread(xs):
    q1, q2, q3 = quartiles(xs)
    return (q3 - q1) / q2 if q2 else float("inf")


def verdict(base, change, better, bound):
    sign = 1 if better == "higher" else -1
    mb, mc = statistics.median(base), statistics.median(change)
    pairs = list(zip(base, change))
    wins = sum(1 for b, c in pairs if sign * (c - b) > 0)
    share = wins / len(pairs) if pairs else 0.0
    q1, _, q3 = quartiles(base)
    worse = sign * (mb - mc) / mb if mb else 0.0
    all_better = all(sign * (c - b) > 0 for b in base for c in change)
    all_worse = all(sign * (b - c) > 0 for b in base for c in change)
    wide = spread(base) > bound or spread(change) > bound
    if share >= 0.9 and sign * (mc - mb) > (q3 - q1):
        v = "improved"
    elif worse > bound and (not wide or all_worse):
        v = "regressed"
    elif wide and not all_better:
        v = "unresolved"
    else:
        v = "no worse"
    return share, v


def by_seed(runs):
    return {r["context"]["seed"]: r for r in runs}


def fmt(x):
    return f"{x:.6g}"


def main():
    if len(sys.argv) != 3:
        sys.exit(__doc__)
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    base, change = load(sys.argv[1]), load(sys.argv[2])
    for w in [w["name"] for w in spec["workloads"]]:
        b, c = by_seed(base.get(w, [])), by_seed(change.get(w, []))
        seeds = sorted(set(b) & set(c))
        if not seeds:
            print(f"{w}: no runs with a common seed on both sides\n")
            continue
        print(f"{w}: {len(seeds)} paired runs")
        print(f"  {'metric':<22}{'base q1/med/q3':>36}{'change q1/med/q3':>36}"
              f"{'won':>6}  verdict")
        for m in spec["end_to_end"]:
            xb = [b[s]["result"]["metrics"][m["name"]]["value"] for s in seeds]
            xc = [c[s]["result"]["metrics"][m["name"]]["value"] for s in seeds]
            share, v = verdict(xb, xc, m["better"], m["bound"])
            qb = "/".join(fmt(x) for x in quartiles(xb))
            qc = "/".join(fmt(x) for x in quartiles(xc))
            print(f"  {m['name']:<22}{qb:>36}{qc:>36}{share:>6.0%}  {v}")
        names = sorted(set().union(*(b[s]["detail"] for s in seeds)))
        for n in names:
            xb = [b[s]["detail"][n]["value"] for s in seeds if n in b[s]["detail"]]
            xc = [c[s]["detail"][n]["value"] for s in seeds if n in c[s]["detail"]]
            if xb and xc:
                print(f"  {'(detail) ' + n:<40}{fmt(statistics.median(xb)):>18}"
                      f"{fmt(statistics.median(xc)):>18}")
        print()


if __name__ == "__main__":
    main()
