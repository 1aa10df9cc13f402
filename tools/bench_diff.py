#!/usr/bin/env python3
"""Per-gate timing comparison of two sets of `graft.Bench` records.

Usage: python3 tools/bench_diff.py A1.json [A2.json ...] -- B1.json [B2.json ...]

Each file is one Bench record (`bench_out.json` or `bench_out_subset.json`:
`queries` = per-gate min seconds over reps, `calib_sec` = the run's CPU
calibration probe). Side A is the baseline (e.g. the parent commit), side
B the change. Records pair up in argument order (A1 with B1, ...), so run
the two sides alternately and list them in run order.

For every gate timed on both sides, prints:
  a_med, b_med   median over each side's records of the gate's min seconds
  ratio          b_med / a_med (< 1: B is faster)
  calib_ratio    the same ratio over seconds / calib_sec per record, which
                 takes out machine load that also slows the probe
  a_won, b_won   in how many pairs each side had the lower min
  a_iqr          the interquartile range of A's mins, as a share of a_med
A failed rep (min -1) drops that record for that gate. Stdlib only.
"""
import json
import statistics
import sys


def load(path):
    with open(path) as f:
        rec = json.load(f)
    return rec["queries"], float(rec["calib_sec"])


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0]
    q = statistics.quantiles(xs, n=4, method="inclusive")
    return q[0], q[2]


def main(argv):
    if "--" not in argv:
        sys.exit(__doc__)
    cut = argv.index("--")
    a_files, b_files = argv[:cut], argv[cut + 1:]
    if not a_files or not b_files:
        sys.exit(__doc__)
    a = [load(p) for p in a_files]
    b = [load(p) for p in b_files]
    gates = sorted(set.intersection(*(set(q) for q, _ in a + b)))
    print(f"{len(a)} A records, {len(b)} B records, "
          f"{min(len(a), len(b))} pairs")
    head = ("gate", "a_med", "b_med", "ratio", "calib_ratio",
            "a_won", "b_won", "a_iqr")
    print("%-40s %8s %8s %7s %11s %5s %5s %6s" % head)
    for g in gates:
        def mins(side):
            return [(q[g], c) for q, c in side if q[g] >= 0]
        am, bm = mins(a), mins(b)
        if not am or not bm:
            print(f"{g:<40} failed on one side")
            continue
        a_med = statistics.median(s for s, _ in am)
        b_med = statistics.median(s for s, _ in bm)
        a_cal = statistics.median(s / c for s, c in am)
        b_cal = statistics.median(s / c for s, c in bm)
        pairs = [(qa[g], qb[g]) for (qa, _), (qb, _) in zip(a, b)
                 if qa[g] >= 0 and qb[g] >= 0]
        a_won = sum(1 for x, y in pairs if x < y)
        b_won = sum(1 for x, y in pairs if y < x)
        q1, q3 = quartiles([s for s, _ in am])
        print("%-40s %8.3f %8.3f %7.3f %11.3f %5d %5d %5.1f%%" % (
            g, a_med, b_med, b_med / a_med, b_cal / a_cal, a_won, b_won,
            100 * (q3 - q1) / a_med))


if __name__ == "__main__":
    main(sys.argv[1:])
