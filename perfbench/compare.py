"""Compare two sets of benchmark runs.

    python3 perfbench/compare.py BASE.jsonl [CHANGE.jsonl]

Each file holds run records as ``perfbench/run.py --out`` appends them.
Per workload and end-to-end metric it prints each side's median and
quartiles over its untraced runs, the run-to-run spread (quartile
distance over the median) and, given two files, the paired wins of the
change (runs paired by seed; ties count for neither side) and a verdict
under the metric's bound from ``BENCHMARK.json``:

- ``worse``: the change's median is worse than the base's by more than
  the bound;
- ``better``: the change wins at least nine tenths of the pairs and the
  medians differ by more than the base's own quartile distance;
- ``unresolved``: the base's spread is wider than the bound, so a
  regression within it could not be seen;
- ``same``: none of these.

Traced runs give the per-layer medians of both sides, and the tracing
overhead: the traced end-to-end median minus the untraced one.
"""

from __future__ import annotations

import json
import os
import statistics
import sys
from collections import defaultdict

HERE = os.path.dirname(os.path.abspath(__file__))


def load(path: str) -> dict:
    """{(workload, trace): [record, ...]} in file order."""
    runs = defaultdict(list)
    with open(path) as f:
        for line in f:
            if line.strip():
                r = json.loads(line)
                runs[(r["workload"], r["trace"])].append(r)
    return runs


def quartiles(xs: list[float]) -> tuple[float, float, float]:
    if len(xs) < 2:
        return (xs[0],) * 3 if xs else (0.0,) * 3
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, q2, q3


def spread(xs: list[float]) -> float:
    q1, q2, q3 = quartiles(xs)
    return (q3 - q1) / q2 if q2 else float("inf")


def verdict(base: list, change: list, pairs: list, better: str, bound: float) -> str:
    sign = 1.0 if better == "higher" else -1.0
    mb, mc = statistics.median(base), statistics.median(change)
    if sign * (mc - mb) < -bound * abs(mb):
        return "worse"
    q1, _, q3 = quartiles(base)
    wins = sum(sign * (c - b) > 0 for b, c in pairs)
    if pairs and wins >= 0.9 * len(pairs) and abs(mc - mb) > q3 - q1 and sign * (mc - mb) > 0:
        return "better"
    if spread(base) > bound and not min(sign * c for c in change) > max(sign * b for b in base):
        return "unresolved"
    return "same"


def main(argv=None) -> int:
    argv = sys.argv[1:] if argv is None else argv
    if not 1 <= len(argv) <= 2:
        print(__doc__, file=sys.stderr)
        return 2
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        bench = json.load(f)
    sides = [load(p) for p in argv]
    workloads = sorted({w for s in sides for (w, _) in s})
    for wl in workloads:
        print(f"== {wl}")
        for m in bench["end_to_end"]:
            cols = []
            for s in sides:
                vals = [r["metrics"][m["name"]]["value"] for r in s.get((wl, 0), [])]
                cols.append(vals)
            line = f"  {m['name']:14s} {m['unit']:7s}"
            for vals in cols:
                if vals:
                    q1, q2, q3 = quartiles(vals)
                    line += f" | n={len(vals):2d} med {q2:11.4f} q1 {q1:11.4f} q3 {q3:11.4f} spread {spread(vals):6.3f}"
                else:
                    line += " | no runs"
            if len(cols) == 2 and cols[0] and cols[1]:
                by_seed = [{r["seed"]: r["metrics"][m["name"]]["value"] for r in s.get((wl, 0), [])} for s in sides]
                pairs = [(by_seed[0][k], by_seed[1][k]) for k in by_seed[0] if k in by_seed[1]]
                sign = 1.0 if m["better"] == "higher" else -1.0
                wins = sum(sign * (c - b) > 0 for b, c in pairs)
                line += f" | wins {wins}/{len(pairs)} -> {verdict(cols[0], cols[1], pairs, m['better'], m['bound'])}"
            print(line)
        traced = [s.get((wl, 1), []) for s in sides]
        if any(traced):
            print("  per layer (traced runs, median)")
            names = next(r["layers"] for t in traced for r in t)
            for name, meta in names.items():
                vals = [statistics.median([r["layers"][name]["value"] for r in t]) if t else None for t in traced]
                print(f"    {name:36s} {meta['unit']:6s} " + " ".join(
                    f"{v:14.4f}" if v is not None else f"{'-':>14s}" for v in vals))
            for i, (s, t) in enumerate(zip(sides, traced)):
                plain = s.get((wl, 0), [])
                if t and plain:
                    over = {
                        m["name"]: statistics.median([r["metrics"][m["name"]]["value"] for r in t])
                        - statistics.median([r["metrics"][m["name"]]["value"] for r in plain])
                        for m in bench["end_to_end"]
                    }
                    print(f"  tracing overhead, file {i + 1}: " + ", ".join(f"{k} {v:+.4f}" for k, v in over.items()))
    return 0


if __name__ == "__main__":
    sys.exit(main())
