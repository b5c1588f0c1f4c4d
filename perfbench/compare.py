#!/usr/bin/env python3
"""Compare two sets of benchmark runs, or summarize one.

    python3 perfbench/compare.py base.jsonl new.jsonl
    python3 perfbench/compare.py runs.jsonl

Input files are JSON lines as ``sweep.py`` writes them.  For each
workload and metric the table gives each side's median and quartiles
(``statistics.quantiles(values, n=4)``) and the spread, (q3 - q1) / median.

Verdicts use the bounds in BENCHMARK.json (end-to-end metrics only):

    better         new median beats base by more than base's spread, or
                   every new run beats every base run
    worse          new median is worse than base by more than the bound
    within bound   neither of the above, and both spreads fit the bound
    unresolved     a spread is wider than the bound and the runs overlap

Per-layer metrics have no bound; their rows show the change only.
"""

from __future__ import annotations

import json
import statistics
import sys
from collections import defaultdict


def load(path: str) -> dict:
    """{(workload, trace): {metric: [values]}}"""
    out: dict = defaultdict(lambda: defaultdict(list))
    with open(path) as f:
        for line in f:
            if not line.strip():
                continue
            row = json.loads(line)
            if not row.get("correct"):
                continue
            for name, m in row["metrics"].items():
                out[(row["workload"], row.get("trace", 0))][name].append(
                    m["value"])
    return out


def summary(values: list[float]) -> tuple[float, float, float, float]:
    """median, q1, q3, spread"""
    med = statistics.median(values)
    if len(values) >= 2:
        q1, _, q3 = statistics.quantiles(values, n=4)
    else:
        q1 = q3 = med
    return med, q1, q3, (q3 - q1) / abs(med) if med else 0.0


def verdict(base: list[float], new: list[float], better: str,
            bound: float | None) -> str:
    b_med, _, _, b_spread = summary(base)
    n_med, _, _, n_spread = summary(new)
    sign = 1.0 if better == "lower" else -1.0
    # positive = new is worse, as a share of the base median
    worse_share = sign * (n_med - b_med) / abs(b_med) if b_med else 0.0
    if bound is None:
        return f"{-worse_share:+.1%}"
    all_better = (max(new) < min(base)) if better == "lower" \
        else (min(new) > max(base))
    if all_better or (-worse_share > max(b_spread, 0.0)
                      and b_spread <= bound and n_spread <= bound):
        return "better"
    if b_spread > bound or n_spread > bound:
        return "unresolved"
    if worse_share > bound:
        return "worse"
    return "within bound"


def main(argv=None) -> int:
    argv = sys.argv[1:] if argv is None else argv
    if not 1 <= len(argv) <= 2:
        print(__doc__, file=sys.stderr)
        return 2
    with open("BENCHMARK.json") as f:
        spec = json.load(f)
    meta = {m["name"]: m for m in spec["end_to_end"] + spec["per_layer"]}
    sides = [load(p) for p in argv]
    keys = sorted(set().union(*[s.keys() for s in sides]))
    for key in keys:
        workload, trace = key
        print(f"\n== {workload} ({'traced' if trace else 'untraced'})")
        if len(sides) == 1:
            print(f"{'metric':<34}{'n':>4}{'median':>14}{'q1':>14}{'q3':>14}"
                  f"{'spread':>9}  bound")
        else:
            print(f"{'metric':<34}{'base med':>13}{'[q1, q3]':>26}"
                  f"{'new med':>13}{'[q1, q3]':>26}  verdict")
        for name, m in meta.items():
            cols = [s.get(key, {}).get(name) for s in sides]
            if any(not c for c in cols):
                continue
            bound = m.get("bound")
            if len(sides) == 1:
                med, q1, q3, spread = summary(cols[0])
                flag = "" if bound is None else (
                    f"{bound:.2f}" + (" OVER" if spread > bound else
                                      " >1/3" if spread > bound / 3 else ""))
                print(f"{name:<34}{len(cols[0]):>4}{med:>14.5g}{q1:>14.5g}"
                      f"{q3:>14.5g}{spread:>9.3f}  {flag}")
            else:
                b, n = summary(cols[0]), summary(cols[1])
                print(f"{name:<34}{b[0]:>13.5g}{f'[{b[1]:.5g}, {b[2]:.5g}]':>26}"
                      f"{n[0]:>13.5g}{f'[{n[1]:.5g}, {n[2]:.5g}]':>26}  "
                      + verdict(cols[0], cols[1], m["better"], bound))
    return 0


if __name__ == "__main__":
    sys.exit(main())
