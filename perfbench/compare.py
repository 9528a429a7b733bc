#!/usr/bin/env python3
"""Compare the metrics of two benchmark results.

    python3 perfbench/compare.py A.json B.json

A and B are raw result files from perfbench/.work/results/. Results whose
environment stamps differ (core count, nproc, JVM, Spark, scale factor and
data dir, shuffle partitions, broadcast threshold, heap) are refused: their
numbers do not measure the same thing. The code stamps (git commit, source
hash) are what an A/B compares, so they are shown, not checked.
"""
import json
import sys

CODE_STAMPS = ("git_commit", "source_hash")


def stamp_mismatch(a, b):
    """Names of the environment stamps on which two results differ."""
    keys = (set(a) | set(b)) - set(CODE_STAMPS)
    return sorted(k for k in keys if a.get(k) != b.get(k))


def compare(a, b):
    da, db = a["detail"], b["detail"]
    bad = stamp_mismatch(da["stamps"], db["stamps"])
    if bad:
        raise ValueError("refusing to compare results with different stamps: " + ", ".join(
            f"{k} {da['stamps'].get(k)!r} vs {db['stamps'].get(k)!r}" for k in bad))
    if da["workload"] != db["workload"]:
        raise ValueError(f"different workloads: {da['workload']} vs {db['workload']}")
    rows = []
    for k, va in da["end_to_end"].items():
        vb = db["end_to_end"][k]
        rows.append((k, va, vb, vb / va if va else float("nan")))
    return rows


def main(argv):
    if len(argv) != 2:
        sys.exit(__doc__)
    a, b = (json.load(open(p)) for p in argv)
    try:
        rows = compare(a, b)
    except ValueError as e:
        sys.exit(str(e))
    for k in CODE_STAMPS:
        print(f"{k}: {a['detail']['stamps'].get(k)} -> {b['detail']['stamps'].get(k)}")
    for k, va, vb, r in rows:
        print(f"{k:20s} {va:14.6g} {vb:14.6g}  x{r:.3f}")


if __name__ == "__main__":
    main(sys.argv[1:])
