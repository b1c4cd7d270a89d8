#!/usr/bin/env python3
"""Steadiness report over sets of benchmark run records.

Usage, from the repository root:
    python3 tembench/report.py SET_A [SET_B]

A set is a directory of run records (the ``*.json`` files run.py writes to
.bench_work/records/) or a glob of them; untraced records count. For each
workload and end-to-end metric it prints the number of runs and of timed
operations, the median, the quartiles, the IQR as a share of the median
(``statistics.quantiles(values, n=4)``) and the metric's bound from
BENCHMARK.json, flagging every metric whose spread exceeds its bound. With two sets it also prints the ratio of the medians,
B over A, and whether B is worse than A by more than the bound. Last, per
set and workload: the warm-up count, the largest first-to-last-third drift
of the median op time, and the median CPU-steal share.
"""
import glob
import json
import os
import statistics
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def load(spec):
    paths = sorted(glob.glob(os.path.join(spec, "*.json")) if os.path.isdir(spec) else glob.glob(spec))
    runs = []
    for p in paths:
        with open(p) as f:
            r = json.load(f)
        if isinstance(r, dict) and r.get("trace") == 0 and r.get("end_to_end"):
            runs.append(r)
    return runs


def spread(values):
    """(median, q1, q3, IQR / median) of a list of at least two values."""
    q1, med, q3 = statistics.quantiles(values, n=4)
    return med, q1, q3, (q3 - q1) / med


def worse_by(metric, ratio):
    """How much worse B is than A, as a share, given median(B)/median(A)."""
    return ratio - 1.0 if metric["better"] == "lower" else 1.0 - ratio


def main(argv):
    if not 1 <= len(argv) <= 2:
        sys.exit(__doc__)
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        bench = json.load(f)
    sets = [load(a) for a in argv]
    workloads = sorted({r["workload"] for s in sets for r in s})
    print(f"{'workload':17} {'metric':13} {'set':3} {'runs':>4} {'ops':>4} {'median':>11} "
          f"{'q1':>11} {'q3':>11} {'iqr/med':>7} {'bound':>5} {'B/A':>6}")
    for w in workloads:
        for m in bench["end_to_end"]:
            meds = []
            for label, runs in zip("AB", sets):
                vals = [r["end_to_end"][m["name"]] for r in runs
                        if r["workload"] == w and m["name"] in r["end_to_end"]]
                if len(vals) < 2:
                    continue
                ops = sum(r["op_count"] for r in runs if r["workload"] == w)
                med, q1, q3, rel = spread(vals)
                meds.append(med)
                flag = "" if rel <= m["bound"] else " SPREAD>BOUND"
                ratio = ""
                if label == "B" and len(meds) == 2:
                    rb = meds[1] / meds[0]
                    ratio = f"{rb:6.3f}" + (" WORSE>BOUND" if worse_by(m, rb) > m["bound"] else "")
                print(f"{w:17} {m['name']:13} {label:3} {len(vals):4d} {ops:4d} {med:11.5g} "
                      f"{q1:11.5g} {q3:11.5g} {rel:7.4f} {m['bound']:5.2f} {ratio}{flag}")
    print()
    for label, runs in zip("AB", sets):
        for w in workloads:
            rs = [r for r in runs if r["workload"] == w]
            if not rs:
                continue
            drifts = [r["thirds"]["drift"] for r in rs]
            print(f"set {label} {w}: {len(rs)} runs, warm-up {sorted({r['setup']['warm_ops'] for r in rs})}"
                  f" ops, third drift median {statistics.median(drifts):+.4f} max |{max(map(abs, drifts)):.4f}|,"
                  f" steal median {statistics.median(r['per_layer']['host.steal_pct'] for r in rs):.2f} %,"
                  f" failed {sum(r['failed'] for r in rs)} of {sum(r['attempted'] for r in rs)}")


if __name__ == "__main__":
    main(sys.argv[1:])
