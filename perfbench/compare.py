#!/usr/bin/env python3
"""Compare two sets of benchmark runs, workload by workload.

Usage:  python3 perfbench/compare.py <base_dir> <change_dir>
        python3 perfbench/compare.py <runs_dir>      (spread of one set)

Each directory holds run records as run.py writes them (--record, or
.bench_build/runs/<workload>/seed<n>-trace<t>.json); subdirectories are
searched. Only untraced records (trace 0) are compared.

For each workload and end-to-end metric it prints each side's median and
quartiles, the pairs the change won (runs paired by seed; ties count for
neither side) and a verdict by the paired-run rule:

  unresolved  either side's quartile spread, as a share of its median, is
              wider than the metric's bound in BENCHMARK.json, and not every
              run of the change reads better than every run of the base;
  better      the change won at least 9/10 of the pairs and the medians
              differ by more than the base's quartile distance;
  worse       the change's median is worse than the base's by more than the
              bound;
  same        none of the above.
"""
import glob
import json
import os
import statistics
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def load(d):
    runs = {}
    for p in glob.glob(os.path.join(d, "**", "*.json"), recursive=True):
        with open(p) as f:
            try:
                r = json.load(f)
            except ValueError:
                continue
        if not isinstance(r, dict) or r.get("trace") != 0 or "result" not in r:
            continue
        runs.setdefault(r["workload"], {})[r["seed"]] = r["result"]["metrics"]
    return runs


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, q2, q3


def verdict(m, base, change, pairs):
    better_is_lower = m["better"] == "lower"
    b1, bm, b3 = quartiles(base)
    c1, cm, c3 = quartiles(change)
    bound = m["bound"]
    every_run_better = all((c < b if better_is_lower else c > b) for c in change for b in base)
    if ((b3 - b1) / bm > bound or (c3 - c1) / cm > bound) and not every_run_better:
        return "unresolved"
    wins = sum(1 for b, c in pairs if (c < b if better_is_lower else c > b))
    gain = (bm - cm) if better_is_lower else (cm - bm)
    if pairs and wins >= 0.9 * len(pairs) and gain > (b3 - b1):
        return "better"
    if -gain > bound * bm:
        return "worse"
    return "same"


def spread(d, metrics):
    """Per workload and metric: runs, median, quartile spread as a share
    of the median, and the bound it must stay within."""
    fmt = "%-16s %-15s %5s %12s %9s %7s  %s"
    print(fmt % ("workload", "metric", "runs", "median", "spread", "bound", "spread<bound/3"))
    for w, rs in sorted(load(d).items()):
        for m in metrics:
            xs = [r[m["name"]]["value"] for r in rs.values() if m["name"] in r]
            if not xs:
                continue
            q1, med, q3 = quartiles(xs)
            sp = (q3 - q1) / med if med else float("inf")
            print(fmt % (w, m["name"], len(xs), "%.5g" % med, "%.4f" % sp, m["bound"],
                         "yes" if sp < m["bound"] / 3 else "NO"))


def main():
    if len(sys.argv) not in (2, 3):
        sys.exit(__doc__)
    with open(os.path.join(HERE, "..", "BENCHMARK.json")) as f:
        metrics = json.load(f)["end_to_end"]
    if len(sys.argv) == 2:
        return spread(sys.argv[1], metrics)
    base, change = load(sys.argv[1]), load(sys.argv[2])
    fmt = "%-16s %-15s %12s %12s %12s %12s %12s %12s %7s  %s"
    print(fmt % ("workload", "metric", "base_q1", "base_med", "base_q3",
                 "chg_q1", "chg_med", "chg_q3", "won", "verdict"))
    for w in sorted(set(base) | set(change)):
        bw, cw = base.get(w, {}), change.get(w, {})
        seeds = sorted(set(bw) & set(cw))
        for m in metrics:
            n = m["name"]
            bv = [r[n]["value"] for r in bw.values() if n in r]
            cv = [r[n]["value"] for r in cw.values() if n in r]
            if not bv or not cv:
                print("%-16s %-15s missing on one side" % (w, n))
                continue
            pairs = [(bw[s][n]["value"], cw[s][n]["value"]) for s in seeds if n in bw[s] and n in cw[s]]
            lower = m["better"] == "lower"
            won = sum(1 for b, c in pairs if (c < b if lower else c > b))
            b1, bm, b3 = quartiles(bv)
            c1, cm, c3 = quartiles(cv)
            print(fmt % (w, n, "%.4g" % b1, "%.4g" % bm, "%.4g" % b3, "%.4g" % c1,
                         "%.4g" % cm, "%.4g" % c3, "%d/%d" % (won, len(pairs)),
                         verdict(m, bv, cv, pairs)))


if __name__ == "__main__":
    main()
