#!/usr/bin/env python3
"""Compare two sets of benchmark results, per workload and end-to-end metric.

Usage:
    python3 perfbench/compare.py BASE_DIR CHANGE_DIR

Each directory holds result files written by perfbench/run.py
(.bench_build/perfbench/results/*.json); traced runs are ignored. Runs are
paired in the order they were made (base run i with change run i), which is
the alternating order when the two sides were run by turns.

For each metric the report gives each side's median and quartiles, the share
of pairs the change won (ties count for neither side) and a verdict:
- "unresolved": either side's spread (quartile distance / median) exceeds
  the metric's bound from BENCHMARK.json, so the runs cannot tell;
- "worse": the change's median is worse than the base's by more than the bound;
- "better": the change won at least 9/10 of the pairs and the medians differ
  by more than the base's own quartile distance;
- "same": none of the above.
"""
import glob
import json
import os
import statistics
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def load(d):
    runs = {}
    for f in sorted(glob.glob(os.path.join(d, "*.json"))):
        with open(f) as fh:
            r = json.load(fh)
        if r.get("trace") or "end_to_end" not in r:
            continue
        runs.setdefault(r["workload"], []).append(r)
    return runs


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, q2, q3


def main():
    if len(sys.argv) != 3:
        sys.exit(__doc__)
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as fh:
        spec = {m["name"]: m for m in json.load(fh)["end_to_end"]}
    base, change = load(sys.argv[1]), load(sys.argv[2])
    print(f"{'workload':14s} {'metric':12s} {'base q1/med/q3':>28s} "
          f"{'change q1/med/q3':>28s} {'won':>7s}  verdict")
    for wl in sorted(set(base) & set(change)):
        a_runs, b_runs = base[wl], change[wl]
        for name, m in spec.items():
            a = [r["end_to_end"][name] for r in a_runs]
            b = [r["end_to_end"][name] for r in b_runs]
            sign = 1 if m["better"] == "lower" else -1
            pairs = list(zip(a, b))
            won = sum(1 for x, y in pairs if sign * (x - y) > 0)
            aq, bq = quartiles(a), quartiles(b)
            spread = max((aq[2] - aq[0]) / aq[1] if aq[1] else 0,
                         (bq[2] - bq[0]) / bq[1] if bq[1] else 0)
            worse_by = sign * (bq[1] - aq[1]) / aq[1] if aq[1] else 0
            if spread > m["bound"]:
                verdict = f"unresolved (spread {spread:.3f} > bound {m['bound']})"
            elif worse_by > m["bound"]:
                verdict = f"worse by {worse_by:.3f} (bound {m['bound']})"
            elif won >= 0.9 * len(pairs) and abs(bq[1] - aq[1]) > aq[2] - aq[0]:
                verdict = f"better by {-worse_by:.3f}"
            else:
                verdict = "same"
            fmt = lambda q: f"{q[0]:.4g}/{q[1]:.4g}/{q[2]:.4g}"
            print(f"{wl:14s} {name:12s} {fmt(aq):>28s} {fmt(bq):>28s} "
                  f"{won:3d}/{len(pairs):<3d}  {verdict}")
        print(f"{wl:14s} runs: base {len(a_runs)}, change {len(b_runs)}")


if __name__ == "__main__":
    main()
