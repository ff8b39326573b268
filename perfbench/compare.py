#!/usr/bin/env python3
"""Diff two sets of benchmark records.

    python3 perfbench/compare.py BEFORE AFTER

BEFORE and AFTER are directories of records (as run.py leaves them in
perfbench/.work/records/) or single record files. For every workload
and end-to-end metric it prints the median and quartiles of each set,
the change of the median, and marks the metric "unresolved" when either
set's spread (interquartile range / median) is wider than the metric's
bound in BENCHMARK.json: such a change cannot be told from noise. Then
it diffs every per-layer metric of the traced records, largest relative
change first, so a change can be traced to the layer that moved.
"""
import argparse
import glob
import json
import os
import statistics

HERE = os.path.dirname(os.path.abspath(__file__))


def load(path):
    files = sorted(glob.glob(os.path.join(path, "*.json"))) if os.path.isdir(path) else [path]
    recs = []
    for f in files:
        with open(f) as fh:
            recs.append(json.load(fh))
    return recs


def summary(values):
    """(median, q1, q3) as statistics.quantiles gives them."""
    if len(values) == 1:
        return values[0], values[0], values[0]
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return q2, q1, q3


def series(recs, section):
    """{workload: {metric: [values]}} from records with that section."""
    out = {}
    for r in recs:
        for k, v in (r.get(section) or {}).items():
            value = v["value"] if isinstance(v, dict) else v
            out.setdefault(r["workload"], {}).setdefault(k, []).append(value)
    return out


def spread(med, q1, q3):
    return (q3 - q1) / abs(med) if med else 0.0


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("before")
    ap.add_argument("after")
    a = ap.parse_args()
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as fh:
        declared = json.load(fh)
    e2e = {m["name"]: m for m in declared["end_to_end"]}
    before, after = load(a.before), load(a.after)
    plain_b = series([r for r in before if not r.get("trace")], "end_to_end")
    plain_a = series([r for r in after if not r.get("trace")], "end_to_end")
    layer_b = series([r for r in before if r.get("trace")], "per_layer")
    layer_a = series([r for r in after if r.get("trace")], "per_layer")

    verdicts, layers = [], []
    for wl in sorted(set(plain_b) & set(plain_a)):
        for name, m in e2e.items():
            vb, va = plain_b[wl].get(name), plain_a[wl].get(name)
            if not vb or not va:
                continue
            sb, sa = summary(vb), summary(va)
            change = (sa[0] - sb[0]) / sb[0] if sb[0] else 0.0
            worse = change > 0 if m["better"] == "lower" else change < 0
            unresolved = max(spread(*sb), spread(*sa)) > m["bound"]
            verdict = ("unresolved" if unresolved else
                       "worse" if worse and abs(change) > m["bound"] else
                       "better" if not worse and abs(change) > m["bound"] else "flat")
            verdicts.append(dict(workload=wl, metric=name, before=sb, after=sa,
                                 change=change, verdict=verdict))
    for wl in sorted(set(layer_b) & set(layer_a)):
        rows = []
        for name in sorted(set(layer_b[wl]) & set(layer_a[wl])):
            mb = statistics.median(layer_b[wl][name])
            ma = statistics.median(layer_a[wl][name])
            rel = (ma - mb) / abs(mb) if mb else (0.0 if ma == mb else float("inf"))
            rows.append(dict(workload=wl, metric=name, before=mb, after=ma, change=rel))
        rows.sort(key=lambda r: -abs(r["change"]))
        layers += rows

    print(f"{'workload':16} {'metric':14} {'before med [q1, q3]':>30} "
          f"{'after med [q1, q3]':>30} {'change':>8}  verdict")
    for r in verdicts:
        fmt = lambda s: f"{s[0]:.4g} [{s[1]:.4g}, {s[2]:.4g}]"
        print(f"{r['workload']:16} {r['metric']:14} {fmt(r['before']):>30} "
              f"{fmt(r['after']):>30} {r['change']:+8.1%}  {r['verdict']}")
    if layers:
        print("\nper-layer medians, largest relative change first")
        for r in layers:
            print(f"{r['workload']:16} {r['metric']:28} {r['before']:>14.6g} "
                  f"{r['after']:>14.6g} {r['change']:+9.1%}")


if __name__ == "__main__":
    main()
