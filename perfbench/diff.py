#!/usr/bin/env python3
"""Name what moved between two sets of benchmark results.

  python3 perfbench/diff.py BEFORE AFTER [--top 15] [--include-contended]

BEFORE and AFTER are directories of run artifacts (the JSON files that
perfbench/run.py writes to perfbench/.work/results/). For each side the
tool takes medians over the runs of a workload, then ranks:

  1. workload x metric: every end-to-end metric (untraced runs) and
     per-layer metric (traced runs), by relative change;
  2. registry entry x layer: build / plan / exec seconds of each entry,
     by absolute change.

Runs flagged as contended are left out unless --include-contended is
given; the count left out is printed, never dropped silently.
"""
import argparse
import glob
import json
import os
import statistics
import sys


def load(d, include_contended):
    runs, skipped = [], 0
    for p in sorted(glob.glob(os.path.join(d, "*.json"))):
        a = json.load(open(p))
        if "result" not in a:
            continue
        if a.get("contended") and not include_contended:
            skipped += 1
            continue
        runs.append(a)
    return runs, skipped


def metric_medians(runs):
    """(workload, metric) -> (median, unit) over the runs that report it."""
    vals = {}
    for a in runs:
        for name, m in a["result"]["metrics"].items():
            vals.setdefault((a["workload"], name), (m["unit"], []))[1].append(m["value"])
    return {k: (statistics.median(v), u) for k, (u, v) in vals.items()}


def entry_medians(runs):
    """(workload, entry, layer) -> median seconds of the timed calls in
    untraced runs."""
    vals = {}
    for a in runs:
        if a.get("trace"):
            continue
        for e in (a.get("raw") or {}).get("entries") or []:
            if e.get("status") != "ok" or "exec_s" not in e:
                continue
            for layer in ("build_s", "plan_s", "exec_s"):
                vals.setdefault((a["workload"], e["name"], layer), []).append(e[layer])
    return {k: statistics.median(v) for k, v in vals.items()}


def rank_metrics(before, after):
    rows = []
    for k in sorted(set(before) & set(after)):
        b, unit = before[k]
        x, _ = after[k]
        if b == 0 and x == 0:
            continue
        rel = (x - b) / abs(b) if b else float("inf")
        rows.append((abs(rel), k[0], k[1], b, x, rel, unit))
    return sorted(rows, reverse=True)


def rank_entries(before, after):
    rows = []
    for k in sorted(set(before) & set(after)):
        d = after[k] - before[k]
        rows.append((abs(d), k[0], k[1], k[2], before[k], after[k], d))
    return sorted(rows, reverse=True)


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("before")
    ap.add_argument("after")
    ap.add_argument("--top", type=int, default=15)
    ap.add_argument("--include-contended", action="store_true")
    a = ap.parse_args(argv)
    (rb, sb), (ra, sa) = (load(a.before, a.include_contended),
                          load(a.after, a.include_contended))
    if not rb or not ra:
        sys.exit("diff: no results on one side")
    print(f"runs: before {len(rb)} ({sb} contended left out), "
          f"after {len(ra)} ({sa} contended left out)")
    print(f"\n{'workload':<18} {'metric':<34} {'before':>12} {'after':>12} {'change':>9}")
    for _, w, m, b, x, rel, unit in rank_metrics(metric_medians(rb),
                                                 metric_medians(ra))[:a.top]:
        print(f"{w:<18} {m:<34} {b:>12.4g} {x:>12.4g} {rel:>+8.1%} {unit}")
    ent = rank_entries(entry_medians(rb), entry_medians(ra))
    if ent:
        print(f"\n{'workload':<18} {'entry':<30} {'layer':<8} {'before s':>9} "
              f"{'after s':>9} {'delta s':>9}")
        for _, w, e, layer, b, x, d in ent[:a.top]:
            print(f"{w:<18} {e:<30} {layer[:-2]:<8} {b:>9.3f} {x:>9.3f} {d:>+9.3f}")


if __name__ == "__main__":
    main()
