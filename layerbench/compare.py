#!/usr/bin/env python3
"""Compare two sets of benchmark result files.

    python3 layerbench/compare.py BASE [CHANGE]

BASE and CHANGE are result files written by run.py (.bench_build/results/
<workload>/s<seed>-t<trace>-<time>.json) or directories searched for them.
For each workload and end-to-end metric it prints each side's median,
quartiles and spread (quartile distance over median), the change's median
delta, and the pairs the change won (runs paired by seed, ties counting for
neither). For traced runs it also prints the median delta of every
per-layer metric. With BASE untraced and CHANGE traced on the same commit,
the deltas are the tracing overhead.

Runs whose host was not idle (result "host.valid" false) are left out and
counted. With one side it prints the spreads only.
"""
import glob
import json
import os
import statistics
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def load(path):
    files = [path] if os.path.isfile(path) else sorted(
        glob.glob(os.path.join(path, "**", "*.json"), recursive=True))
    runs, invalid = [], 0
    for f in files:
        with open(f) as fh:
            r = json.load(fh)
        if "e2e" not in r:
            continue
        if not r["host"].get("valid", True):
            invalid += 1
            continue
        runs.append(r)
    return runs, invalid


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, statistics.median(xs), q3


def lower_is_better():
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        spec = json.load(f)
    return {m["name"]: m["better"] == "lower" for m in spec["end_to_end"]}


def fmt(x):
    return f"{x:.4g}"


def main():
    args = sys.argv[1:]
    if not 1 <= len(args) <= 2:
        sys.exit(__doc__)
    sides = [load(a) for a in args]
    for a, (_, bad) in zip(args, sides):
        if bad:
            print(f"# {a}: {bad} run(s) left out, host not idle")
    lower = lower_is_better()
    workloads = sorted({r["workload"] for runs, _ in sides for r in runs})
    for w in workloads:
        by = [[r for r in runs if r["workload"] == w] for runs, _ in sides]
        print(f"\n== {w}  runs: " + " / ".join(str(len(b)) for b in by))
        if not all(by):
            continue
        print(f"{'metric':24} {'base q1/med/q3':>28} {'spread':>7}"
              + (f" {'change q1/med/q3':>28} {'spread':>7} {'delta':>8} {'won':>7}"
                 if len(by) == 2 else ""))
        for m, low in lower.items():
            if not all(m in r["e2e"] for runs in by for r in runs):
                continue
            cols = []
            meds = []
            for runs in by:
                q1, md, q3 = quartiles([r["e2e"][m] for r in runs])
                meds.append(md)
                cols.append(f"{fmt(q1):>8}/{fmt(md):>9}/{fmt(q3):>9} {(q3 - q1) / md:>7.3f}")
            line = f"{m:24} " + " ".join(cols)
            if len(by) == 2:
                base = {r["seed"]: r["e2e"][m] for r in by[0]}
                pairs = [(base[r["seed"]], r["e2e"][m]) for r in by[1] if r["seed"] in base]
                if not pairs:
                    pairs = list(zip([r["e2e"][m] for r in by[0]], [r["e2e"][m] for r in by[1]]))
                won = sum(1 for b, c in pairs if (c < b if low else c > b))
                line += f" {(meds[1] - meds[0]) / meds[0]:>+8.1%} {won:>3}/{len(pairs):<3}"
            print(line)
        traced = [[r for r in b if "layers" in r] for b in by]
        keys = [k for k in (traced[0][0]["layers"] if traced[0] else [])
                if all(k in r["layers"] for t in traced for r in t)]
        if len(by) == 2 and all(traced):
            print("  per-layer medians (traced runs): base -> change")
            for k in keys:
                b = statistics.median(r["layers"][k] for r in traced[0])
                c = statistics.median(r["layers"][k] for r in traced[1])
                if b or c:
                    d = f"{(c - b) / b:+.1%}" if b else "new"
                    print(f"  {k:36} {fmt(b):>10} -> {fmt(c):>10} {d:>8}")
        elif len(by) == 1 and traced[0]:
            print("  per-layer medians (traced runs)")
            for k in keys:
                print(f"  {k:36} {fmt(statistics.median(r['layers'][k] for r in traced[0])):>10}")


if __name__ == "__main__":
    main()
