#!/usr/bin/env python3
"""Compare a parent commit's benchmark results with a change's.

Usage:
  python3 perfbench/compare.py PARENT CHANGE [--bench BENCHMARK.json]

PARENT and CHANGE are files or directories of files holding the standard
output of untraced `perfbench/run.py` runs (any number of runs per file).
Runs pair up by workload and seed; run each seed once on each side,
alternating which side runs first.

For every workload and end-to-end metric it prints each side's median and
quartiles, the share of pairs the change won, and a verdict:
  improved      the change won at least 9/10 of all pairs (ties count for
                neither side), at least 10 pairs ran, and the medians differ
                by more than the parent's own interquartile range;
  worse         the change's median is worse than the parent's by more than
                the metric's bound;
  unresolved    the parent's own spread (IQR / median) is wider than the
                bound, unless every change run beats every parent run;
  within bound  otherwise.
When both sides report the same source-tree hash the code is identical, and
any difference is noise; the verdict is marked so.
"""
import argparse
import json
import os
import statistics
import sys


def load(path):
    """{(workload, seed): report} for every untraced run under path."""
    files = [path] if os.path.isfile(path) else sorted(
        os.path.join(d, f) for d, _, fs in os.walk(path) for f in fs)
    runs = {}
    for f in files:
        with open(f) as fh:
            for line in fh:
                line = line.strip()
                if not line.startswith("{"):
                    continue
                try:
                    obj = json.loads(line)
                except ValueError:
                    continue
                p = obj.get("perfbench")
                if p and not p.get("traced"):
                    runs[(p["workload"], p["seed"])] = obj
    return runs


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q = statistics.quantiles(xs, n=4)
    return q[0], statistics.median(xs), q[2]


def verdict(parent, change, better, bound):
    sign = 1 if better == "higher" else -1
    wins = sum(1 for p, c in zip(parent, change) if sign * (c - p) > 0)
    pq1, pmed, pq3 = quartiles(parent)
    _, cmed, _ = quartiles(change)
    n = len(parent)
    gain = sign * (cmed - pmed)
    all_better = min(sign * c for c in change) > max(sign * p for p in parent)
    if n >= 10 and wins >= 0.9 * n and gain > pq3 - pq1:
        v = "improved"
    elif pmed and (pq3 - pq1) / abs(pmed) > bound and not all_better:
        v = "unresolved"
    elif pmed and -gain / abs(pmed) > bound:
        v = "worse"
    else:
        v = "within bound"
    return wins / n, v


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("parent")
    ap.add_argument("change")
    ap.add_argument("--bench", default="BENCHMARK.json")
    args = ap.parse_args()
    with open(args.bench) as fh:
        metrics = json.load(fh)["end_to_end"]
    parent, change = load(args.parent), load(args.change)
    keys = sorted(set(parent) & set(change))
    if not keys:
        sys.exit("no (workload, seed) runs common to both sides")
    print("%-16s %-17s %5s %32s %32s %6s  %s" % (
        "workload", "metric", "pairs", "parent q1/median/q3", "change q1/median/q3", "won", "verdict"))
    for wl in sorted({k[0] for k in keys}):
        pairs = [(parent[k], change[k]) for k in keys if k[0] == wl]
        same = all(p["perfbench"]["source_tree_sha256"] == c["perfbench"]["source_tree_sha256"]
                   for p, c in pairs)
        for m in metrics:
            ps = [p["metrics"][m["name"]]["value"] for p, _ in pairs]
            cs = [c["metrics"][m["name"]]["value"] for _, c in pairs]
            won, v = verdict(ps, cs, m["better"], m["bound"])
            fmt = lambda q: "%.4g/%.4g/%.4g" % q
            print("%-16s %-17s %5d %32s %32s %5.0f%%  %s%s" % (
                wl, m["name"], len(pairs), fmt(quartiles(ps)), fmt(quartiles(cs)), 100 * won, v,
                " (identical source tree: noise)" if same else ""))
        failed = sum(c["metrics"].get("error_rate", {}).get("value", 0) > 0 for _, c in pairs)
        if failed:
            print("%-16s %d change runs had failed calls or checks; no gain counts" % (wl, failed))


if __name__ == "__main__":
    main()
