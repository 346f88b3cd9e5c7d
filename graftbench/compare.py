#!/usr/bin/env python3
"""Compare two sets of benchmark runs, metric by metric.

    python3 graftbench/compare.py BASE CHANGE

BASE and CHANGE are each a file or a directory of files holding run
records, one JSON object per line: the files the runner writes to
``.graftbench/results/`` (result plus ``context``), or
``{"r": <such a record>, ...}``. Records are grouped by
``context.workload``. For every workload and end-to-end metric it
prints each side's median and quartiles (``statistics.quantiles``,
n=4) and a verdict, using the bounds in BENCHMARK.json:

* ``worse``: the change's median is worse than the base's by more than
  the bound;
* ``unresolved``: either side's spread (quartile distance over median)
  is wider than the bound, and the runs of one side do not all beat the
  runs of the other;
* ``better``: the change's median is better by more than the base's
  own spread;
* ``same``: none of the above.

Runs of one workload that differ in local core count or input
generator version between the sides are not comparable; such a
workload is reported and not judged. It exits 1 when any verdict is
``worse`` or ``unresolved``, or when a workload is not comparable.
"""

from __future__ import annotations

import json
import os
import statistics
import sys
from collections import defaultdict

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def load(path: str) -> dict[str, list[dict]]:
    """workload -> list of run records that carry metrics."""
    files = ([os.path.join(path, f) for f in sorted(os.listdir(path))]
             if os.path.isdir(path) else [path])
    out: dict[str, list[dict]] = defaultdict(list)
    for p in files:
        with open(p) as f:
            for line in f:
                line = line.strip()
                if not line.startswith("{"):
                    continue
                rec = json.loads(line)
                rec = rec.get("r", rec)
                if rec and rec.get("metrics") and "context" in rec:
                    out[rec["context"]["workload"]].append(rec)
    return out


def summary(values: list[float]) -> tuple[float, float, float]:
    if len(values) < 2:
        return values[0], values[0], values[0]
    q1, med, q3 = statistics.quantiles(values, n=4)
    return q1, med, q3


def spread(values: list[float]) -> float:
    """Quartile distance as a share of the median."""
    q1, med, q3 = summary(values)
    return (q3 - q1) / med


def verdict(base: list[float], change: list[float], better: str, bound: float) -> str:
    sign = 1.0 if better == "lower" else -1.0
    b_med, c_med = summary(base)[1], summary(change)[1]
    gain = sign * (b_med - c_med) / b_med  # > 0: the change is better
    spread_b, spread_c = spread(base), spread(change)
    all_better = max(sign * v for v in change) < min(sign * v for v in base)
    all_worse = min(sign * v for v in change) > max(sign * v for v in base)
    if max(spread_b, spread_c) > bound:
        return "better" if all_better else "worse" if all_worse else "unresolved"
    if -gain > bound:
        return "worse"
    if gain > spread_b:
        return "better"
    return "same"


def main(argv: list[str]) -> int:
    if len(argv) != 3:
        print(__doc__, file=sys.stderr)
        return 2
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    base, change = load(argv[1]), load(argv[2])
    bad = False
    print(f"{'workload':14} {'metric':14} {'base q1/med/q3':>30} "
          f"{'change q1/med/q3':>30}  verdict")
    for w in sorted(set(base) | set(change)):
        setups = [{k: sorted({str(r["context"].get(k)) for r in side.get(w, [])})
                   for k in ("local_cores", "gen_version")} for side in (base, change)]
        if setups[0] != setups[1]:
            print(f"{w:14} not comparable: base ran {setups[0]}, change ran {setups[1]}")
            bad = True
            continue
        for m in spec["end_to_end"]:
            name = m["name"]
            a = [r["metrics"][name]["value"] for r in base.get(w, []) if name in r["metrics"]]
            b = [r["metrics"][name]["value"] for r in change.get(w, []) if name in r["metrics"]]
            if not a or not b:
                print(f"{w:14} {name:14} missing runs (base {len(a)}, change {len(b)})")
                bad = True
                continue
            v = verdict(a, b, m["better"], m["bound"])
            bad = bad or v in ("worse", "unresolved")
            fa, fb = ("/".join(f"{x:.4g}" for x in summary(xs)) for xs in (a, b))
            sa, sb = (spread(xs) for xs in (a, b))
            print(f"{w:14} {name:14} {fa:>30} {fb:>30}  {v} (n={len(a)}/{len(b)}, "
                  f"spread {sa:.1%}/{sb:.1%}, bound {m['bound']:.0%})")
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))
