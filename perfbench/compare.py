#!/usr/bin/env python3
"""Compare two sets of runs (parent, change) made by steadiness.py.

    python3 perfbench/compare.py PARENT_SET.json CHANGE_SET.json

Runs are paired by seed, or in the order they were made when the two sets
share no seeds. For each workload x end-to-end metric it prints
one verdict, using the direction and bound in BENCHMARK.json:

  improved    the change wins at least 9 of every 10 pairs (ties count for
              neither side) and the medians differ, in the better
              direction, by more than the parent's interquartile range;
  regressed   the change's median is worse than the parent's by more than
              the metric's bound (a share of the parent's median);
  unresolved  anything else: no claim either way.
"""
import json
import os
import statistics
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def verdict(parent, change, better, bound):
    """parent/change: lists of values paired by index."""
    sign = 1 if better == "higher" else -1
    wins = sum(1 for p, c in zip(parent, change) if sign * (c - p) > 0)
    pairs = len(parent)
    pm, cm = statistics.median(parent), statistics.median(change)
    q1, _, q3 = statistics.quantiles(parent, n=4)
    gain = sign * (cm - pm)
    if pairs and wins * 10 >= 9 * pairs and gain > (q3 - q1):
        return "improved", wins, pairs, pm, cm
    if -gain > bound * abs(pm):
        return "regressed", wins, pairs, pm, cm
    return "unresolved", wins, pairs, pm, cm


def main():
    if len(sys.argv) != 3:
        sys.exit(__doc__)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    sets = []
    for path in sys.argv[1:]:
        with open(path) as fh:
            sets.append(json.load(fh)["results"])
    parent, change = sets
    print("%-8s %-14s %-10s %7s %12s %12s %8s" % (
        "workload", "metric", "verdict", "wins", "parent", "change", "delta"))
    for w in parent:
        if w not in change:
            print("%-8s missing from the change's set" % w)
            continue
        pc = {r["seed"]: r for r in parent[w]}
        cc = {r["seed"]: r for r in change[w]}
        seeds = sorted(set(pc) & set(cc))
        if len(seeds) >= 2:
            matched = [(pc[s], cc[s]) for s in seeds]
        else:
            # sets made with different seeds: pair runs in the order made
            matched = list(zip(parent[w], change[w]))
            print("%-8s no common seeds: runs paired in order" % w)
        if len(matched) < 2:
            print("%-8s fewer than two pairs" % w)
            continue
        for m in bench["end_to_end"]:
            name = m["name"]
            pv = [p["metrics"][name]["value"] for p, _ in matched]
            cv = [c["metrics"][name]["value"] for _, c in matched]
            v, wins, pairs, pm, cm = verdict(pv, cv, m["better"], m["bound"])
            print("%-8s %-14s %-10s %3d/%-3d %12.4g %12.4g %+7.1f%%" % (
                w, name, v, wins, pairs, pm, cm, 100 * (cm - pm) / pm))


if __name__ == "__main__":
    main()
