#!/usr/bin/env python3
"""Run interleaved perfbench pairs from two checkouts and compare them.

    python3 tools/ab_pairs.py <checkout A> <checkout B> <out dir> \\
        [--workload corpus_stream] [--pairs 10] [--seconds 8] [--seed 1]

Pair i runs both checkouts on seed `--seed + i`, untraced, one after the
other; A runs first in even pairs and B in odd ones, so a drift in the
box's speed lands on both sides. `--workload` may be repeated; every pair
then runs each workload in turn. Each run's result file is copied into
`<out dir>/A` or `<out dir>/B`, which `perfbench/compare.py` reads. At the
end this prints compare.py's table; per workload and end-to-end metric,
how many pairs B won (its value better than A's in the metric's better
direction); and per workload and op, the median latency of the op's
timed calls on each side, from the result files' `calls`. It exits with
compare.py's status: 1 when any pairing reads `worse`.

Each checkout builds into its own `.bench_build/` on its first run.
Nothing under `perfbench/` is changed.
"""
import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def run_one(checkout, workload, seed, seconds, dest):
    """One untraced perfbench run in `checkout`; copies its result file
    into `dest` and returns the parsed result."""
    tag = f"{workload}-seed{seed}-trace0.json"
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"],
        cwd=checkout, capture_output=True, text=True)
    if p.returncode != 0:
        sys.exit(f"ab_pairs: run failed in {checkout} ({workload}, seed "
                 f"{seed}):\n{p.stderr[-2000:]}")
    src = os.path.join(checkout, ".bench_build", "results", tag)
    os.makedirs(dest, exist_ok=True)
    shutil.copy(src, os.path.join(dest, tag))
    with open(src) as f:
        return json.load(f)


def op_medians(runs):
    """{op: median seconds} over the timed calls of `runs`."""
    by_op = {}
    for r in runs:
        for c in r["calls"]:
            if c["pass"] > 0:
                by_op.setdefault(c["op"], []).append(c["s"])
    return {op: statistics.median(xs) for op, xs in by_op.items()}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("a")
    ap.add_argument("b")
    ap.add_argument("out")
    ap.add_argument("--workload", action="append")
    ap.add_argument("--pairs", type=int, default=10)
    ap.add_argument("--seconds", type=float, default=8)
    ap.add_argument("--seed", type=int, default=1)
    o = ap.parse_args()
    workloads = o.workload or ["corpus_stream"]
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        metrics = json.load(f)["end_to_end"]
    sides = {"A": os.path.abspath(o.a), "B": os.path.abspath(o.b)}

    pairs = {w: [] for w in workloads}
    for i in range(o.pairs):
        seed = o.seed + i
        order = "AB" if i % 2 == 0 else "BA"
        for w in workloads:
            got = {}
            for side in order:
                r = run_one(sides[side], w, seed, o.seconds,
                            os.path.join(o.out, side))
                got[side] = r
                print(f"pair {i + 1}/{o.pairs} {w} seed {seed} {side}: "
                      f"failed {r['failed']} " + " ".join(
                          f"{m['name']}={r['end_to_end'][m['name']]:.4g}"
                          for m in metrics), flush=True)
            pairs[w].append(got)

    print()
    cmp = subprocess.run([sys.executable, os.path.join(ROOT, "perfbench",
                                                       "compare.py"),
                          os.path.join(o.out, "A"), os.path.join(o.out, "B")])
    print()
    print(f"{'workload':<16} {'metric':<13} B wins  failed A/B")
    for w in workloads:
        fails = (sum(p["A"]["failed"] for p in pairs[w]),
                 sum(p["B"]["failed"] for p in pairs[w]))
        for m in metrics:
            sign = 1 if m["better"] == "lower" else -1
            wins = sum(sign * (p["B"]["end_to_end"][m["name"]] -
                               p["A"]["end_to_end"][m["name"]]) < 0
                       for p in pairs[w])
            print(f"{w:<16} {m['name']:<13} {wins:>2}/{len(pairs[w]):<2}  "
                  f"{fails[0]}/{fails[1]}")

    print()
    print(f"{'workload':<16} {'op':<28} {'A median s':>10} "
          f"{'B median s':>10} {'B/A':>6}")
    for w in workloads:
        med = {side: op_medians(p[side] for p in pairs[w]) for side in "AB"}
        for op in sorted(med["A"].keys() | med["B"].keys()):
            a, b = med["A"].get(op), med["B"].get(op)
            cells = [f"{x:.4f}" if x else "-" for x in (a, b)]
            cells.append(f"{b / a:.3f}" if a and b else "-")
            print(f"{w:<16} {op:<28} {cells[0]:>10} {cells[1]:>10} "
                  f"{cells[2]:>6}")
    sys.exit(cmp.returncode)


if __name__ == "__main__":
    main()
