#!/usr/bin/env python3
"""Compare perfbench runs of a parent and a change.

    python3 tools/benchdiff.py PARENT_FILE CHANGE_FILE [--claim WORKLOAD:METRIC ...]

Each file holds the stdout of `perfbench/run.py` runs, appended one run
after another: the summary line (it names the workload) followed by the
result line `{"correct": ..., "attempted": ..., "failed": ..., "metrics":
{...}}`. Other lines are ignored. Metric directions and bounds come from
the repository's BENCHMARK.json.

For each workload and metric it prints the parent's and the change's median
and quartiles (q1..q3), the change/parent ratio of the medians and how many
of the N run pairs the change won (pairs are taken in file order: the i-th
parent run of a workload with its i-th change run). A metric is flagged
WORSE when the change's median is worse than the parent's by more than the
metric's bound in BENCHMARK.json (end-to-end metrics only), and UNRESOLVED
when the parent's quartile distance exceeds that bound, unless every change
run reads better than every parent run. The share of failed ops is compared
as well.

--claim WORKLOAD:METRIC applies the gain rule: the change must win at least
nine of ten pairs (the same share of N) and its median must be better than
the parent's by more than the parent's quartile distance. The exit status
is 1 when a metric is flagged WORSE, failed ops grew, or a claim does not
hold.
"""
import argparse
import json
import math
import os
import statistics
import sys


def read_runs(path):
    """{workload: [result, ...]} in file order."""
    runs = {}
    workload = None
    with open(path) as f:
        for line in f:
            line = line.strip()
            if not line.startswith("{"):
                continue
            try:
                obj = json.loads(line)
            except ValueError:
                continue
            if "metrics" in obj:
                runs.setdefault(workload or "?", []).append(obj)
                workload = None
            elif "workload" in obj:
                workload = obj["workload"]
    return runs


def quartiles(xs):
    """(q1, median, q3) with linear interpolation between order statistics."""
    xs = sorted(xs)
    if len(xs) == 1:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, q2, q3


def load_metric_specs(path):
    with open(path) as f:
        bench = json.load(f)
    specs = {}
    for m in bench.get("per_layer", []):
        specs[m["name"]] = {"better": m["better"], "bound": None, "e2e": False}
    for m in bench.get("end_to_end", []):
        specs[m["name"]] = {"better": m["better"], "bound": m["bound"], "e2e": True}
    return specs


def worse_share(parent, change, better):
    """How much worse the change is, as a share of the parent (< 0: better)."""
    d = change - parent if better == "lower" else parent - change
    if parent == 0:
        return 0.0 if d == 0 else math.copysign(math.inf, d)
    return d / abs(parent)


def fmt(x):
    if x == 0 or abs(x) >= 100:
        return f"{x:.0f}"
    if abs(x) >= 1:
        return f"{x:.3f}"
    return f"{x:.4g}"


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("parent")
    ap.add_argument("change")
    ap.add_argument("--claim", action="append", default=[],
                    help="WORKLOAD:METRIC the change claims to improve")
    args = ap.parse_args(argv)

    specs = load_metric_specs(os.path.join(
        os.path.dirname(os.path.abspath(__file__)), "..", "BENCHMARK.json"))
    parent, change = read_runs(args.parent), read_runs(args.change)
    bad = False
    claims = {}
    for c in args.claim:
        w, _, m = c.partition(":")
        claims[(w, m)] = None

    for workload in sorted(set(parent) | set(change)):
        p_runs, c_runs = parent.get(workload, []), change.get(workload, [])
        print(f"== {workload}: {len(p_runs)} parent runs, {len(c_runs)} change runs")
        if not p_runs or not c_runs:
            print("   (nothing to compare)")
            continue
        p_fail = sum(r["failed"] for r in p_runs) / max(1, sum(r["attempted"] for r in p_runs))
        c_fail = sum(r["failed"] for r in c_runs) / max(1, sum(r["attempted"] for r in c_runs))
        flag = "  FAILED-OPS-GREW" if c_fail > p_fail else ""
        bad |= bool(flag)
        print(f"   failed ops: parent {p_fail:.3f}, change {c_fail:.3f}{flag}")
        names = [n for n in specs if all(n in r["metrics"] for r in p_runs + c_runs)]
        names.sort(key=lambda n: (not specs[n]["e2e"], n))
        print(f"   {'metric':26} {'parent q1..med..q3':>30} {'change q1..med..q3':>30}"
              f" {'ratio':>6} {'wins':>6}  flags")
        for name in names:
            spec = specs[name]
            pv = [r["metrics"][name]["value"] for r in p_runs]
            cv = [r["metrics"][name]["value"] for r in c_runs]
            pq, cq = quartiles(pv), quartiles(cv)
            pairs = list(zip(pv, cv))
            wins = sum(1 for a, b in pairs
                       if (b < a if spec["better"] == "lower" else b > a))
            ratio = cq[1] / pq[1] if pq[1] else float("nan")
            flags = []
            if spec["e2e"]:
                if worse_share(pq[1], cq[1], spec["better"]) > spec["bound"]:
                    flags.append("WORSE")
                    bad = True
                all_better = (max(cv) < min(pv) if spec["better"] == "lower"
                              else min(cv) > max(pv))
                if (pq[1] and (pq[2] - pq[0]) / abs(pq[1]) > spec["bound"]
                        and not all_better):
                    flags.append("UNRESOLVED")
            if (workload, name) in claims:
                gain = (pq[1] - cq[1]) if spec["better"] == "lower" else (cq[1] - pq[1])
                ok = wins * 10 >= 9 * len(pairs) and gain > (pq[2] - pq[0])
                claims[(workload, name)] = ok
                flags.append("CLAIM-HOLDS" if ok else "CLAIM-FAILS")
                bad |= not ok
            print(f"   {name:26} {fmt(pq[0]):>9} {fmt(pq[1]):>9} {fmt(pq[2]):>10}"
                  f" {fmt(cq[0]):>9} {fmt(cq[1]):>9} {fmt(cq[2]):>10}"
                  f" {ratio:6.3f} {wins:>3}/{len(pairs):<2}  {' '.join(flags)}")
    for (w, m), ok in claims.items():
        if ok is None:
            print(f"claim {w}:{m}: no runs with this metric")
            bad = True
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
