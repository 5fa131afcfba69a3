#!/usr/bin/env python3
"""Compare two sets of benchmark runs, metric by metric.

Usage (from the repository root):

    python3 perfbench/compare.py <parent runs> <change runs> [--json]

Each set is a directory searched recursively for the ``metrics.json``
artifacts ``run.py`` writes (one per run).  Runs pair up by workload and
seed, else in order.  For every workload and end-to-end metric the tool
prints each side's median and quartiles, the share of pairs the change
wins (ties count for neither) and a verdict:

- ``improved``: the change wins at least nine tenths of the pairs and
  the medians differ, in the better direction, by more than the
  parent's own spread (the distance between its quartiles);
- ``unresolved``: the parent's spread is wider than the metric's bound
  and not every change run reads better than every parent run;
- ``no worse``: the change's median is worse than the parent's by at
  most the bound BENCHMARK.json fixes;
- ``worse``: anything else.
"""
import argparse
import glob
import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import stats  # noqa: E402

WIN_SHARE = 0.9


def load_runs(path):
    """{workload: [(seed, {metric: value})]} from the artifacts under path."""
    runs = {}
    for f in sorted(glob.glob(os.path.join(path, "**", "metrics.json"), recursive=True)):
        with open(f) as fh:
            a = json.load(fh)
        prov = a["provenance"]
        if prov.get("trace"):
            continue
        vals = {k: v["value"] for k, v in a["end_to_end"].items() if v["value"] is not None}
        runs.setdefault(prov["workload"], []).append((prov["seed"], vals))
    return runs


def pairs(parent, change):
    """Pair runs with equal seeds when every seed matches, else in order."""
    ps, cs = dict(parent), dict(change)
    if len(ps) == len(parent) and len(cs) == len(change) and set(ps) == set(cs):
        return [(ps[s], cs[s]) for s in sorted(ps)]
    return list(zip([v for _, v in parent], [v for _, v in change]))


def verdict(parent, change, better, bound, paired=None):
    """Verdict for one metric.  ``parent`` and ``change`` are the two
    sides' values; ``paired`` the (parent, change) pairs (default: in
    order); ``better`` is "lower" or "higher"; ``bound`` the share of the
    parent's median the change may be worse by."""
    sign = 1.0 if better == "lower" else -1.0
    paired = paired if paired is not None else list(zip(parent, change))
    wins = sum(1 for p, c in paired if sign * (p - c) > 0)
    win_share = wins / len(paired) if paired else 0.0
    p_q1, p_med, p_q3 = stats.quartiles(parent)
    c_q1, c_med, c_q3 = stats.quartiles(change)
    spread = p_q3 - p_q1
    gain = sign * (p_med - c_med)  # > 0 when the change is better
    if win_share >= WIN_SHARE and gain > spread:
        v = "improved"
    elif p_med and spread / abs(p_med) > bound and not all(
            sign * (p - c) > 0 for p in parent for c in change):
        v = "unresolved"
    elif -gain <= bound * abs(p_med):
        v = "no worse"
    else:
        v = "worse"
    return {"parent_median": p_med, "parent_q1": p_q1, "parent_q3": p_q3,
            "change_median": c_med, "change_q1": c_q1, "change_q3": c_q3,
            "win_share": win_share,
            "pairs": len(paired), "verdict": v}


def main():
    ap = argparse.ArgumentParser(description="Compare two sets of perfbench runs.")
    ap.add_argument("parent")
    ap.add_argument("change")
    ap.add_argument("--json", action="store_true", help="print the table as JSON")
    args = ap.parse_args()
    with open(os.path.join(HERE, "..", "BENCHMARK.json")) as f:
        metrics = json.load(f)["end_to_end"]
    parent, change = load_runs(args.parent), load_runs(args.change)
    rows = []
    for wl in sorted(set(parent) & set(change)):
        pr = pairs(parent[wl], change[wl])
        for m in metrics:
            name = m["name"]
            pp = [p[name] for p, c in pr if name in p and name in c]
            cc = [c[name] for p, c in pr if name in p and name in c]
            if len(pp) < 2:
                continue
            r = verdict(pp, cc, m["better"], m["bound"], list(zip(pp, cc)))
            r.update({"workload": wl, "metric": name, "unit": m["unit"]})
            rows.append(r)
    if args.json:
        print(json.dumps(rows, indent=1))
        return
    print(f"{'workload':<18} {'metric':<12} {'parent med [q1,q3]':>30} "
          f"{'change med [q1,q3]':>30} {'wins':>6}  verdict")
    for r in rows:
        print(f"{r['workload']:<18} {r['metric']:<12} "
              f"{r['parent_median']:>10.4g} [{r['parent_q1']:.4g},{r['parent_q3']:.4g}]".ljust(62)
              + f"{r['change_median']:>10.4g} [{r['change_q1']:.4g},{r['change_q3']:.4g}]".ljust(31)
              + f"{r['win_share']:>6.2f}  {r['verdict']}")


if __name__ == "__main__":
    main()
