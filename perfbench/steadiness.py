#!/usr/bin/env python3
"""Steadiness report: run each workload repeatedly and show the spread of
every end-to-end metric.

    python3 perfbench/steadiness.py [--runs 10] [--first-seed 1]
        [--workloads replay,stream] [--out perfbench/runs/set-NAME.json]
    python3 perfbench/steadiness.py --report perfbench/runs/set-NAME.json

Run from the root of a checkout. Reads the command, run_seconds, workloads
and bounds from BENCHMARK.json; seed i of a set is first-seed + i. Prints,
per workload and metric, the median, the quartiles (Python's
statistics.quantiles, n=4), the interquartile range and the full range
(max - min), each as a share of the median, and flags a spread above a
third of the metric's bound. The set is saved as JSON for compare.py.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def load_bench():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def run_one(bench, workload, seed):
    cmd = bench["command"] + ["--workload", workload, "--seed", str(seed),
                              "--seconds", str(bench["run_seconds"]),
                              "--trace", "0"]
    p = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE,
                       stderr=subprocess.DEVNULL, text=True)
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines:
        raise SystemExit("run failed: %s seed %d (exit %d)"
                         % (workload, seed, p.returncode))
    return json.loads(lines[-1])


def spread(values):
    med = statistics.median(values)
    q1, _, q3 = statistics.quantiles(values, n=4)
    return {"median": med, "q1": q1, "q3": q3,
            "iqr_share": (q3 - q1) / med if med else float("inf"),
            "range_share": (max(values) - min(values)) / med if med else float("inf")}


def report(bench, results):
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    units = {m["name"]: m["unit"] for m in bench["end_to_end"]}
    print("%-8s %-14s %12s %12s %12s %8s %8s %6s" % (
        "workload", "metric", "median", "q1", "q3", "iqr/med", "rng/med", "bound"))
    for workload, runs in results.items():
        bad = [r for r in runs if not r["correct"] or r["failed"]]
        if bad:
            print("%-8s %d run(s) failed the correctness gate" % (workload, len(bad)))
        for name in bounds:
            vals = [r["metrics"][name]["value"] for r in runs]
            if len(vals) < 2:
                continue
            s = spread(vals)
            flag = " <- above bound/3" if (
                name != "setup_s" and s["iqr_share"] > bounds[name] / 3) else ""
            print("%-8s %-14s %12.4g %12.4g %12.4g %7.1f%% %7.1f%% %5.0f%% %s%s" % (
                workload, name, s["median"], s["q1"], s["q3"],
                100 * s["iqr_share"], 100 * s["range_share"],
                100 * bounds[name], units[name], flag))


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--workloads")
    ap.add_argument("--out")
    ap.add_argument("--report")
    a = ap.parse_args()
    bench = load_bench()
    if a.report:
        with open(a.report) as fh:
            report(bench, json.load(fh)["results"])
        return
    names = (a.workloads.split(",") if a.workloads
             else [w["name"] for w in bench["workloads"]])
    results = {}
    for w in names:
        results[w] = []
        for i in range(a.runs):
            seed = a.first_seed + i
            t = time.time()
            r = run_one(bench, w, seed)
            r["seed"] = seed
            results[w].append(r)
            print("%s seed %d: %.0f s, correct=%s" % (w, seed, time.time() - t,
                                                     r["correct"]),
                  file=sys.stderr)
    out = a.out or os.path.join(ROOT, "perfbench", "runs",
                                "set-%s.json" % time.strftime("%Y%m%d-%H%M%S"))
    os.makedirs(os.path.dirname(out), exist_ok=True)
    with open(out, "x") as fh:
        json.dump({"run_seconds": bench["run_seconds"], "results": results}, fh)
    print("saved %s" % out, file=sys.stderr)
    report(bench, results)


if __name__ == "__main__":
    main()
