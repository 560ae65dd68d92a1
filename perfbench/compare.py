#!/usr/bin/env python3
"""Summarise or compare benchmark records.

    python3 perfbench/compare.py RECORDS_A [RECORDS_B]

Each argument is a directory of run records (as run.py writes them under
.bench_build/records/<workload>/) or a single record file. Only untraced
records are read. With one argument, prints each end-to-end metric's
median, quartiles and spread (quartile distance as a share of the median).
With two, also prints B's median against A's and whether the change stays
within the metric's bound from BENCHMARK.json.

Records are comparable only when they were made with the same instrument:
the compare refuses (exit 2) when their headers differ in anything but the
git rev, the source digest and the seed.
"""
import json
import os
import statistics
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
from run import instrument  # noqa: E402


def load(arg):
    files = ([os.path.join(arg, f) for f in sorted(os.listdir(arg))]
             if os.path.isdir(arg) else [arg])
    recs = []
    for f in files:
        if f.endswith("-trace0.json"):
            with open(f) as g:
                recs.append(json.load(g))
    if not recs:
        raise SystemExit(f"compare: no untraced records in {arg}")
    return recs


def summary(recs, name):
    vals = [r["end_to_end"][name]["value"] for r in recs]
    med = statistics.median(vals)
    if len(vals) >= 2:
        q1, _, q3 = statistics.quantiles(vals, n=4)
    else:
        q1 = q3 = med
    return med, q1, q3, (q3 - q1) / med if med else 0.0


def main(argv):
    if len(argv) not in (1, 2):
        raise SystemExit(__doc__)
    sets = [load(a) for a in argv]
    ref = instrument(sets[0][0]["header"])
    for recs in sets:
        for r in recs:
            if instrument(r["header"]) != ref:
                diff = sorted(k for k in set(ref) | set(instrument(r["header"]))
                              if ref.get(k) != r["header"].get(k))
                print(f"compare: refusing records made with another instrument "
                      f"(differs in {', '.join(diff)})", file=sys.stderr)
                return 2
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        bounds = {m["name"]: m for m in json.load(f)["end_to_end"]}
    failed = [sum(r["failed"] for r in recs) for recs in sets]
    print(f"workload {ref['workload']}: " + "; ".join(
        f"set {'AB'[i]} {len(recs)} runs, {failed[i]} failed ops"
        for i, recs in enumerate(sets)))
    worse = False
    for name, spec in bounds.items():
        a = summary(sets[0], name)
        line = (f"{name:<14} A median {a[0]:10.4f} q1 {a[1]:10.4f} q3 {a[2]:10.4f} "
                f"spread {a[3]:.3f} (bound {spec['bound']})")
        if len(sets) == 2:
            b = summary(sets[1], name)
            change = (b[0] - a[0]) / a[0] if a[0] else 0.0
            regress = change if spec["better"] == "lower" else -change
            ok = regress <= spec["bound"]
            worse |= not ok
            line += (f" | B median {b[0]:10.4f} spread {b[3]:.3f} change {change:+.3f}"
                     f" {'ok' if ok else 'WORSE'}")
        print(line)
    return 1 if worse else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
