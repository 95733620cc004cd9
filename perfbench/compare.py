#!/usr/bin/env python3
"""Spread of one set of runs, or a parent-vs-change comparison of two.

    python3 perfbench/compare.py spread RUNS_DIR
    python3 perfbench/compare.py PARENT_RUNS_DIR CHANGE_RUNS_DIR

A runs directory holds the reports `run.py` keeps (`.bench_build/perfbench/
runs/` by default; copy them aside per commit). Only untraced runs count.
Bounds and directions come from BENCHMARK.json.

`spread` prints, per workload and end-to-end metric, the median and the
quartile spread (Q3 - Q1 as a share of the median) next to the metric's
bound.

The comparison applies rules meant for a small, noisy machine: pair
the runs (by seed where both sides ran it, else in run order), count the
pairs the change wins (ties count for neither), and give each workload and
metric a verdict:

  better      wins >= 9/10 of the pairs and the medians differ by more than
              the parent's quartile spread
  worse       the change's median is worse than the parent's by more than
              the bound
  unresolved  the parent's spread exceeds the bound, unless every change
              run reads better than every parent run
  same        otherwise
"""
import glob
import json
import os
import statistics
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def load_runs(directory):
    """{workload: [report, ...]} of the untraced reports, in run order."""
    runs = {}
    for path in sorted(glob.glob(os.path.join(directory, "*.json"))):
        with open(path) as f:
            r = json.load(f)
        if r.get("trace") == 0 and "metrics" in r:
            runs.setdefault(r["workload"], []).append(r)
    for rs in runs.values():
        rs.sort(key=lambda r: r["env"]["start"]["unix_time"])
    return runs


def quartiles(values):
    """(Q1, median, Q3) as `statistics.quantiles(values, n=4)` gives them."""
    if len(values) < 2:
        return values[0], values[0], values[0]
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return q1, q2, q3


def spread(values):
    q1, med, q3 = quartiles(values)
    return (q3 - q1) / med if med else float("inf")


def pairs(parent, change):
    """Parent/change report pairs: same seed where possible, else run order."""
    by_seed = {r["seed"]: r for r in change}
    if all(r["seed"] in by_seed for r in parent):
        return [(r, by_seed[r["seed"]]) for r in parent]
    return list(zip(parent, change))


def verdict(p_vals, c_vals, paired, bound, better):
    """Verdict for one metric: see the module docstring."""
    sign = 1 if better == "higher" else -1
    q1, p_med, q3 = quartiles(p_vals)
    _, c_med, _ = quartiles(c_vals)
    wins = sum(1 for p, c in paired if sign * (c - p) > 0)
    all_better = (min(c_vals) > max(p_vals)) if sign > 0 else (max(c_vals) < min(p_vals))
    if spread(p_vals) > bound:
        return ("better" if all_better else "unresolved"), wins
    if -sign * (c_med - p_med) > bound * abs(p_med):
        return "worse", wins
    if paired and wins >= 0.9 * len(paired) and sign * (c_med - p_med) > q3 - q1:
        return "better", wins
    return "same", wins


def main(argv):
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    metrics = spec["end_to_end"]
    if len(argv) == 2 and argv[0] == "spread":
        for workload, rs in sorted(load_runs(argv[1]).items()):
            failed = sum(r["failed"] for r in rs)
            print(f"{workload}: {len(rs)} runs, {failed} failed ops")
            for m in metrics:
                vals = [r["metrics"][m["name"]]["value"] for r in rs]
                q1, med, q3 = quartiles(vals)
                s = spread(vals)
                flag = "ok" if s < m["bound"] / 3 else ("within bound" if s <= m["bound"] else "TOO WIDE")
                print(f"  {m['name']:<10} median {med:.4g} {m['unit']}  Q1 {q1:.4g}  Q3 {q3:.4g}  "
                      f"spread {s:.3f} (bound {m['bound']})  {flag}")
        return 0
    if len(argv) != 2:
        print(__doc__, file=sys.stderr)
        return 2
    parent, change = load_runs(argv[0]), load_runs(argv[1])
    for workload in sorted(set(parent) & set(change)):
        p, c = parent[workload], change[workload]
        paired = pairs(p, c)
        fp, fc = sum(r["failed"] for r in p), sum(r["failed"] for r in c)
        cells = []
        for m in metrics:
            pv = [r["metrics"][m["name"]]["value"] for r in p]
            cv = [r["metrics"][m["name"]]["value"] for r in c]
            v, wins = verdict(pv, cv, [(a["metrics"][m["name"]]["value"], b["metrics"][m["name"]]["value"])
                                       for a, b in paired], m["bound"], m["better"])
            pq, cq = quartiles(pv), quartiles(cv)
            cells.append(f"{m['name']} {v} (parent {pq[1]:.4g} [{pq[0]:.4g}, {pq[2]:.4g}], "
                         f"change {cq[1]:.4g} [{cq[0]:.4g}, {cq[2]:.4g}] {m['unit']}, "
                         f"won {wins}/{len(paired)})")
        note = f"; change fails more ops ({fc} vs {fp}): no gain counts" if fc > fp else ""
        print(f"{workload}: {len(p)} parent / {len(c)} change runs{note}")
        for cell in cells:
            print(f"  {cell}")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
