#!/usr/bin/env python3
"""Compares the result records of two commits.

    python3 perfbench/compare.py <results-dir-A> <results-dir-B>

Each directory holds records written by run.py (perfbench/out/results).
Refuses, with exit code 1, when any record's session profile or data
fingerprint differs from the others: two commits measured under
different profiles are not comparable. Otherwise prints, per workload and
metric, the median of each side and B/A.
"""
import glob
import json
import os
import statistics
import sys


def records(d):
    out = []
    for p in sorted(glob.glob(os.path.join(d, "*.json"))):
        with open(p) as f:
            out.append((p, json.load(f)))
    if not out:
        sys.exit(f"no records in {d}")
    return out


def main():
    if len(sys.argv) != 3:
        sys.exit(__doc__)
    a, b = records(sys.argv[1]), records(sys.argv[2])
    ref_path, ref = a[0]
    for p, r in a + b:
        for k in ("profile", "data"):
            if r["fingerprint"][k] != ref["fingerprint"][k]:
                print(f"perfbench: {k} of {p} differs from {ref_path}:\n"
                      f"  {r['fingerprint'][k]}\n  {ref['fingerprint'][k]}",
                      file=sys.stderr)
                sys.exit(1)
    for wl in sorted({r["workload"] for _, r in a + b}):
        for section in ("end_to_end", "per_layer"):
            side = [[r[section] for _, r in recs if r["workload"] == wl
                     and r["trace"] == (section == "per_layer")] for recs in (a, b)]
            if not all(side):
                continue
            for m in sorted(side[0][0]):
                ma, mb = (statistics.median(s[m] for s in xs) for xs in side)
                ratio = f"{mb / ma:.3f}" if ma else "-"
                print(f"{wl:12} {m:28} A={ma:<14.6g} B={mb:<14.6g} B/A={ratio}")


if __name__ == "__main__":
    main()
