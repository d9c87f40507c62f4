#!/usr/bin/env python3
"""Compare two sets of benchmark runs (standard library only).

    python3 perfbench/compare.py <set A> <set B>

A set is a directory of the run records run.py writes (one JSON file per
run; .perfbench/runs/ unless run.py was given --record-dir). For every workload and metric it prints
each side's median and quartiles, the spread (interquartile distance as
a share of the median) and, for end-to-end metrics, whether both spreads
are within the metric's bound in BENCHMARK.json (setup_s excepted) and
B's median is no worse than A's by more than that bound.
When a set holds both traced and untraced runs of a workload it also
prints the tracing overhead: the traced runs' end-to-end medians against
the untraced ones. Exit status 1 when any bound is exceeded.
"""
import glob
import json
import os
import statistics
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def load(path):
    runs = {}
    for f in sorted(glob.glob(os.path.join(path, "*.json"))):
        with open(f) as fh:
            r = json.load(fh)
        runs.setdefault((r["workload"], r["trace"]), []).append(r)
    return runs


def summary(values):
    med = statistics.median(values)
    q1, _, q3 = statistics.quantiles(values, n=4) if len(values) > 1 else (med, med, med)
    return med, q1, q3, (q3 - q1) / abs(med) if med else 0.0


def worse_by(a, b, better):
    """share by which median b is worse than median a (negative = better)"""
    if a == 0:
        return 0.0 if b == a else float("inf")
    return (a - b) / a if better == "higher" else (b - a) / a


def main():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    e2e = {m["name"]: m for m in spec["end_to_end"]}
    layer = {m["name"]: m for m in spec["per_layer"]}
    a, b = load(sys.argv[1]), load(sys.argv[2])
    exceeded = False
    for key in sorted(set(a) & set(b)):
        workload, trace = key
        ra, rb = a[key], b[key]
        print(f"\n== {workload} ({'traced' if trace else 'untraced'}): "
              f"A n={len(ra)}, B n={len(rb)}")
        print(f"{'metric':34} {'A median [q1, q3] spread':>38} {'B median [q1, q3] spread':>38}  verdict")
        names = e2e if not trace else layer
        for name, m in names.items():
            va = [r["metrics"][name] for r in ra if name in r["metrics"]]
            vb = [r["metrics"][name] for r in rb if name in r["metrics"]]
            if not va or not vb:
                continue
            sa, sb = summary(va), summary(vb)
            verdict = ""
            if "bound" in m:
                w = worse_by(sa[0], sb[0], m["better"])
                # setup_s is gated on its medians only
                steady = name == "setup_s" or max(sa[3], sb[3]) <= m["bound"]
                ok = w <= m["bound"] and steady
                exceeded |= not ok
                verdict = (f"{'within' if ok else 'EXCEEDS'} bound {m['bound']:.2f} "
                           f"(B worse by {w:+.3f}; spreads {sa[3]:.3f}/{sb[3]:.3f} "
                           f"vs bound/3 {m['bound'] / 3:.3f})")
            fmt = lambda s: f"{s[0]:.5g} [{s[1]:.5g}, {s[2]:.5g}] {s[3]:.3f}"
            print(f"{name:34} {fmt(sa):>38} {fmt(sb):>38}  {verdict}")
    for label, runs in (("A", a), ("B", b)):
        for workload in sorted({w for w, _ in runs}):
            plain, traced = runs.get((workload, 0)), runs.get((workload, 1))
            if not plain or not traced:
                continue
            print(f"\n== tracing overhead, set {label}, {workload}: traced vs untraced medians")
            for name in e2e:
                mp = statistics.median(r["end_to_end"][name] for r in plain)
                mt = statistics.median(r["end_to_end"][name] for r in traced)
                print(f"{name:34} untraced {mp:.5g}  traced {mt:.5g}  "
                      f"({worse_by(mp, mt, e2e[name]['better']):+.3f} worse)")
    sys.exit(1 if exceeded else 0)


if __name__ == "__main__":
    main()
