#!/usr/bin/env python3
"""Compares two sets of benchmark artifacts.

Usage: python3 perfbench/diff.py BEFORE AFTER

BEFORE and AFTER are artifact files written by perfbench/run.py
(.bench_work/artifacts/<workload>-seed<n>-trace<t>.json) or directories of
them. Artifacts are grouped by workload and trace mode; within a group each
number is the median over the group's artifacts (one per seed). For every
group present on both sides the script prints, with AFTER/BEFORE ratios:
the end-to-end metrics with medians and quartiles, the per-layer metrics,
the per-op latencies, and the ops that moved most together with their job
and shuffle deltas. When one side holds both an untraced and a traced run
of a workload it also prints the tracing overhead of that side.
"""
import argparse
import glob
import json
import math
import os
import statistics
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import stats  # noqa: E402

# Ops listed as the group's top movers.
TOP_MOVERS = 10


def load(path):
    files = sorted(glob.glob(os.path.join(path, "*.json"))) \
        if os.path.isdir(path) else [path]
    groups = {}
    for f in files:
        with open(f) as fh:
            art = json.load(fh)
        if "workload" in art and "end_to_end" in art:
            groups.setdefault((art["workload"], art["trace"]), []).append(art)
    return groups


def med(values):
    values = [v for v in values if isinstance(v, (int, float))]
    return statistics.median(values) if values else None


def ratio(a, b):
    if a is None or b is None or a == 0:
        return None
    return b / a


def fmt(x, width=10):
    if x is None:
        return "-".rjust(width)
    return f"{x:{width}.4g}"


def fmt_ratio(r):
    return "     -" if r is None else f"{r:6.3f}x"


def by_metric(arts, section):
    """metric -> its values in `section` ("end_to_end" or "per_layer"),
    one per artifact."""
    out = {}
    for art in arts:
        for k, v in art.get(section, {}).items():
            out.setdefault(k, []).append(v)
    return out


def op_table(arts):
    """op -> {ms, jobs, shuffle_mb} medians over artifacts."""
    ops = {}
    for art in arts:
        for op, row in art["ops"].items():
            o = ops.setdefault(op, {"ms": [], "jobs": [], "shuffle_mb": []})
            o["ms"].append(row["ms"]["median"])
            if "spark.jobs" in row:
                o["jobs"].append(row["spark.jobs"])
                o["shuffle_mb"].append(row.get("spark.shuffle_read_mb", 0.0)
                                       + row.get("spark.shuffle_write_mb", 0.0))
    return {op: {k: med(v) for k, v in o.items()} for op, o in ops.items()}


def overhead(groups, workload):
    plain, traced = groups.get((workload, 0)), groups.get((workload, 1))
    if not plain or not traced:
        return None
    p = med(a["end_to_end"]["pass_s"] for a in plain)
    t = med(a["end_to_end"]["pass_s"] for a in traced)
    return None if not p else t / p - 1


def print_group(key, before, after):
    workload, trace = key
    print(f"\n=== {workload} (trace {trace}): {len(before)} vs {len(after)} runs")
    print(f"{'end-to-end':28s} {'before':>10s} {'after':>10s} {'ratio':>7s}"
          f" {'after q1':>10s} {'after q3':>10s}")
    eb, ea = by_metric(before, "end_to_end"), by_metric(after, "end_to_end")
    for k in sorted(set(eb) | set(ea)):
        a, b = med(eb.get(k, [])), med(ea.get(k, []))
        s = stats.summary([v for v in ea.get(k, []) if v is not None])
        print(f"  {k:26s} {fmt(a)} {fmt(b)} {fmt_ratio(ratio(a, b))}"
              f" {fmt(s['q1'])} {fmt(s['q3'])}")
    lb, la = by_metric(before, "per_layer"), by_metric(after, "per_layer")
    if lb or la:
        print(f"{'per-layer':28s} {'before':>10s} {'after':>10s} {'ratio':>7s}")
        for k in sorted(set(lb) | set(la)):
            a, b = med(lb.get(k, [])), med(la.get(k, []))
            print(f"  {k:40s} {fmt(a)} {fmt(b)} {fmt_ratio(ratio(a, b))}")
    ob, oa = op_table(before), op_table(after)
    common = sorted(set(ob) & set(oa))
    print(f"{'op (median ms)':28s} {'before':>10s} {'after':>10s} {'ratio':>7s}")
    for op in common:
        print(f"  {op:34s} {fmt(ob[op]['ms'])} {fmt(oa[op]['ms'])}"
              f" {fmt_ratio(ratio(ob[op]['ms'], oa[op]['ms']))}")
    ratios = [r for r in (ratio(ob[o]["ms"], oa[o]["ms"]) for o in common)
              if r and r > 0]
    if ratios:
        geo = math.exp(sum(math.log(r) for r in ratios) / len(ratios))
        tot = ratio(sum(ob[o]["ms"] for o in common),
                    sum(oa[o]["ms"] for o in common))
        print(f"  geomean {geo:.3f}x  total {tot:.3f}x over {len(ratios)} ops")
    movers = sorted(common, key=lambda o: -abs(math.log(
        ratio(ob[o]["ms"], oa[o]["ms"]) or 1.0)))[:TOP_MOVERS]
    print(f"top movers: {'op':30s} {'ratio':>7s} {'d jobs':>7s} {'d shuffle MB':>13s}")
    for op in movers:
        dj = (None if ob[op]["jobs"] is None or oa[op]["jobs"] is None
              else oa[op]["jobs"] - ob[op]["jobs"])
        ds = (None if ob[op]["shuffle_mb"] is None or oa[op]["shuffle_mb"] is None
              else oa[op]["shuffle_mb"] - ob[op]["shuffle_mb"])
        print(f"  {op:40s} {fmt_ratio(ratio(ob[op]['ms'], oa[op]['ms']))}"
              f" {fmt(dj, 7)} {fmt(ds, 13)}")


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("before")
    ap.add_argument("after")
    a = ap.parse_args()
    gb, ga = load(a.before), load(a.after)
    if not gb or not ga:
        sys.exit("no benchmark artifacts found on one side")
    for key in sorted(set(gb) & set(ga)):
        print_group(key, gb[key], ga[key])
    for name, groups in (("before", gb), ("after", ga)):
        for w in sorted({k[0] for k in groups}):
            o = overhead(groups, w)
            if o is not None:
                print(f"\ntracing overhead ({name}, {w}): {100 * o:+.1f}% pass_s")


if __name__ == "__main__":
    main()
