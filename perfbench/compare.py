#!/usr/bin/env python3
"""Compare two sets of untraced benchmark results, per workload and
end-to-end metric.

    python3 perfbench/compare.py <dir A> <dir B>

Each dir holds the `<workload>-seed<n>-trace0.json` files run.py writes to
.bench_build/results/. For every workload x end-to-end metric of
BENCHMARK.json this prints both sides' median and quartiles, the change of
B's median against A's in the metric's worse direction, and a verdict:

  agree       B is not worse than A by more than the metric's bound
  better      B beats A by more than the bound
  worse       B is worse than A by more than the bound
  unresolved  a side's quartile spread is wider than the bound, so no
              verdict is possible, unless every B run reads better (or
              worse) than every A run

Exits 1 when any pairing is worse, else 0.
"""
import glob
import json
import os
import statistics
import sys


def load(d):
    """{workload: {metric: [values]}} from one dir of result files."""
    out = {}
    for f in sorted(glob.glob(os.path.join(d, "*-trace0.json"))):
        with open(f) as fh:
            r = json.load(fh)
        for k, v in (r.get("end_to_end") or {}).items():
            out.setdefault(r["workload"], {}).setdefault(k, []).append(v)
    return out


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, statistics.median(xs), q3


def verdict(a, b, better, bound):
    """(relative change in the worse direction, verdict) of B against A."""
    qa, qb = quartiles(a), quartiles(b)
    sign = 1 if better == "lower" else -1
    worse = sign * (qb[1] - qa[1]) / qa[1]
    spread = max((qa[2] - qa[0]) / qa[1], (qb[2] - qb[0]) / qb[1])
    b_wins = all(sign * (y - x) < 0 for x in a for y in b)
    b_loses = all(sign * (y - x) > 0 for x in a for y in b)
    if spread > bound and not (b_wins or b_loses):
        return worse, "unresolved"
    if worse > bound:
        return worse, "worse"
    if worse < -bound:
        return worse, "better"
    return worse, "agree"


def main():
    if len(sys.argv) != 3:
        sys.exit(__doc__)
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        spec = json.load(f)
    a, b = load(sys.argv[1]), load(sys.argv[2])
    any_worse = False
    print(f"{'workload':<16} {'metric':<13} {'nA':>3} {'A q1/med/q3':>28} "
          f"{'nB':>3} {'B q1/med/q3':>28} {'worse by':>9} {'bound':>6}  verdict")
    for w in spec["workloads"]:
        for m in spec["end_to_end"]:
            xa = a.get(w["name"], {}).get(m["name"], [])
            xb = b.get(w["name"], {}).get(m["name"], [])
            if not xa or not xb:
                print(f"{w['name']:<16} {m['name']:<13} no results")
                continue
            change, v = verdict(xa, xb, m["better"], m["bound"])
            any_worse |= v == "worse"
            fa = "/".join(f"{x:.4g}" for x in quartiles(xa))
            fb = "/".join(f"{x:.4g}" for x in quartiles(xb))
            print(f"{w['name']:<16} {m['name']:<13} {len(xa):>3} {fa:>28} "
                  f"{len(xb):>3} {fb:>28} {change:>+9.3f} {m['bound']:>6}  {v}")
    sys.exit(1 if any_worse else 0)


if __name__ == "__main__":
    main()
