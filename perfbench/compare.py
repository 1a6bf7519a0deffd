#!/usr/bin/env python3
"""Compare two sets of benchmark runs, metric by metric.

    python3 perfbench/compare.py BASE NEW [--trace 1]

BASE and NEW are result directories (`.perfbench/results` of two
checkouts) or single `<workload>.trace<k>.jsonl` files; every run that
`run.py` makes appends one line there. For each workload found on both
sides and each metric, the table gives the base median, the ratio
new/base, and each side's spread (inter-quartile distance over median),
with the run counts. A ratio inside both spreads is noise, not a move.
With `--trace 1` it compares the per-layer metrics of traced runs, which
shows in which layer a saving appears.
"""
import argparse
import glob
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pb.metrics import median, spread  # noqa: E402


def load(path, trace):
    """{workload: [metrics of each run]}"""
    if os.path.isdir(path):
        files = glob.glob(os.path.join(path, f"*.trace{trace}.jsonl"))
    else:
        files = [path]
    runs = {}
    for f in files:
        workload = os.path.basename(f).split(".trace")[0]
        with open(f) as fh:
            rows = [json.loads(l) for l in fh if l.strip()]
        runs[workload] = [r["metrics"] for r in rows if not r["failed"]]
    return runs


def table(base, new):
    rows = []
    for w in sorted(set(base) & set(new)):
        names = sorted(set().union(*base[w]) & set().union(*new[w]))
        for n in names:
            b = [r[n] for r in base[w] if n in r]
            a = [r[n] for r in new[w] if n in r]
            mb, ma = median(b), median(a)
            rows.append((w, n, mb, ma / mb if mb else None, spread(b),
                         spread(a), len(b), len(a)))
    return rows


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("base")
    ap.add_argument("new")
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()
    rows = table(load(args.base, args.trace), load(args.new, args.trace))
    if not rows:
        sys.exit("no workload has runs on both sides")
    print(f"{'workload':16s} {'metric':50s} {'base':>12s} {'new/base':>9s} "
          f"{'spread_b':>8s} {'spread_n':>8s}  runs")
    for w, n, mb, ratio, sb, sa, nb, na in rows:
        r = f"{ratio:9.3f}" if ratio is not None else f"{'-':>9s}"
        print(f"{w:16s} {n:50s} {mb:12.5g} {r} {sb:8.3f} {sa:8.3f}  "
              f"{nb}/{na}")


if __name__ == "__main__":
    main()
