#!/usr/bin/env python3
"""Compares two sets of benchmark runs.

Usage: python3 perfbench/compare.py A B

A and B are directories of run records as run.py writes them (one JSON file
per run, in perfbench/.out/results/). Untraced records are compared on the
end-to-end metrics, traced ones on the per-layer metrics. For each workload
and metric it prints each side's median and quartiles, B's median over A's,
and how many matched pairs B wins. Runs pair up by seed (by start order when
the seeds differ); a tie counts for neither side.

It then applies BENCHMARK.json's bounds to the end-to-end metrics: the two
sets agree when, for every metric, B's median is not worse than A's by more
than the bound and each side's spread (the distance between the quartiles
over the median) is within the bound. Exits 0 when they agree, 1 when they
do not, and 1 when there is nothing to compare: a side without records, the
two sides holding different (workload, trace) sets, or an untraced record
without one of BENCHMARK.json's end-to-end metrics.
"""
import collections
import glob
import json
import os
import statistics
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def load(path):
    """{(workload, trace): [record, ...]} in start order."""
    files = [path] if os.path.isfile(path) else sorted(
        glob.glob(os.path.join(path, "**", "*.json"), recursive=True))
    out = collections.defaultdict(list)
    for f in files:
        with open(f) as fh:
            r = json.load(fh)
        if "metrics" in r and "workload" in r:
            out[(r["workload"], r["trace"])].append(r)
    return out


def stats(xs):
    med = statistics.median(xs)
    q1, _, q3 = statistics.quantiles(xs, n=4) if len(xs) > 1 else (med, med, med)
    return med, q1, q3, (q3 - q1) / med if med else 0.0


def pairs(ra, rb):
    sa = {r["seed"]: r for r in ra}
    sb = {r["seed"]: r for r in rb}
    common = sorted(set(sa) & set(sb))
    if common:
        return [(sa[s], sb[s]) for s in common]
    return list(zip(ra, rb))


def main():
    if len(sys.argv) != 3:
        sys.exit(__doc__)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    meta = {m["name"]: m for m in bench["end_to_end"] + bench["per_layer"]}
    a, b = load(sys.argv[1]), load(sys.argv[2])
    problems = []
    for side, path, recs in (("A", sys.argv[1], a), ("B", sys.argv[2], b)):
        if not recs:
            problems.append(f"{side} ({path}) holds no run records")
        for (workload, trace), rs in recs.items():
            for r in rs:
                missing = [m["name"] for m in bench["end_to_end"]
                           if not trace and m["name"] not in r["metrics"]]
                if missing:
                    problems.append(f"{side} {workload} seed {r['seed']}: "
                                    f"no {', '.join(missing)}")
    for key in sorted(set(a) ^ set(b)):
        side = "A" if key in a else "B"
        problems.append(f"only {side} has {key[0]} "
                        f"({'traced' if key[1] else 'untraced'}) runs")
    for key in sorted(set(a) & set(b)):
        workload, trace = key
        ra, rb = a[key], b[key]
        print(f"\n== {workload} ({'traced' if trace else 'untraced'}; "
              f"A {len(ra)} runs, B {len(rb)} runs)")
        print(f"{'metric':34s} {'unit':>11s}  {'A median [q1, q3]':32s}  "
              f"{'B median [q1, q3]':32s}  {'B/A':>6s}  {'B wins':>7s}  spread A / B")
        names = [n for n in ra[0]["metrics"] if all(n in r["metrics"] for r in ra + rb)]
        for n in names:
            xa = [r["metrics"][n]["value"] for r in ra]
            xb = [r["metrics"][n]["value"] for r in rb]
            ma, qa1, qa3, sa = stats(xa)
            mb, qb1, qb3, sb = stats(xb)
            lower = meta.get(n, {}).get("better", "lower") == "lower"
            pp = pairs(ra, rb)
            wins = sum(1 for x, y in pp
                       if (y["metrics"][n]["value"] < x["metrics"][n]["value"]) == lower
                       and y["metrics"][n]["value"] != x["metrics"][n]["value"])
            ratio = mb / ma if ma else float("nan")
            unit = ra[0]["metrics"][n]["unit"]
            cell_a = f"{ma:.4g} [{qa1:.4g}, {qa3:.4g}]"
            cell_b = f"{mb:.4g} [{qb1:.4g}, {qb3:.4g}]"
            print(f"{n:34s} {unit:>11s}  {cell_a:32s}  {cell_b:32s}  {ratio:6.3f}  "
                  f"{wins:3d}/{len(pp):<3d}  {sa:.3f} / {sb:.3f}")
            bound = meta.get(n, {}).get("bound")
            if trace or bound is None:
                continue
            worse = ((mb - ma) if lower else (ma - mb)) / ma if ma else 0.0
            if worse > bound:
                problems.append(f"{workload} {n}: B worse by {worse:.3f} > {bound}")
            for side, s in (("A", sa), ("B", sb)):
                if s > bound:
                    problems.append(f"{workload} {n}: spread of {side} {s:.3f} > {bound}")
    print()
    if problems:
        print("DISAGREE beyond BENCHMARK.json bounds:")
        for p in problems:
            print("  " + p)
        sys.exit(1)
    print("AGREE within BENCHMARK.json bounds")


if __name__ == "__main__":
    main()
