"""Compare two sets of benchmark records.

    python3 perfbench/compare.py BASE_DIR CHANGE_DIR

Each directory holds run records as ``perfbench/run.py`` writes them
(``<workload>-seed<n>-trace<t>.json``), one per run; copy
``perfbench/.work/results`` aside after running each side. For every
workload and end-to-end metric the tool prints both sides' quartiles
and median and one verdict:

- ``better``: the change wins at least 9 of 10 seed-matched pairs
  (ties count for neither) and the medians differ by more than the
  base's own inter-quartile distance;
- ``worse``: the change's median is worse than the base's by more
  than the metric's bound from BENCHMARK.json;
- ``within``: neither of the above;
- ``unresolved``: either side's spread is wider than the bound, and
  not every change run beats every base run.

Per-layer metrics from traced records follow, as the change in the
median with its base.
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import sys

from stats import median, quartiles, spread

HERE = os.path.dirname(os.path.abspath(__file__))


def load(directory: str) -> dict[tuple[str, int], dict[int, dict]]:
    """{(workload, trace): {seed: record}}"""
    out: dict = {}
    for path in sorted(glob.glob(os.path.join(directory, "*.json"))):
        with open(path) as fh:
            r = json.load(fh)
        out.setdefault((r["workload"], r["trace"]), {})[r["seed"]] = r
    return out


def verdict(base: dict[int, float], change: dict[int, float], better: str,
            bound: float) -> str:
    """Verdict for one metric; ``base``/``change`` map seed -> value."""
    b, c = list(base.values()), list(change.values())
    sign = 1.0 if better == "lower" else -1.0  # sign * (x - y) > 0: x worse
    mb, mc = median(b), median(c)
    if max(spread(b), spread(c)) > bound:
        if all(sign * (x - y) < 0 for x in c for y in b):
            return "better"
        return "unresolved"
    if sign * (mc - mb) / abs(mb) > bound:
        return "worse"
    pairs = [s for s in base if s in change]
    wins = sum(sign * (change[s] - base[s]) < 0 for s in pairs)
    q1, _q2, q3 = quartiles(b)
    if pairs and wins >= 0.9 * len(pairs) and abs(mc - mb) > q3 - q1:
        return "better"
    return "within"


def fmt(v: float) -> str:
    return f"{v:.4g}"


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("base")
    ap.add_argument("change")
    ap.add_argument("--benchmark", default=os.path.join(os.path.dirname(HERE), "BENCHMARK.json"))
    args = ap.parse_args(argv)
    with open(args.benchmark) as fh:
        spec = json.load(fh)
    e2e = {m["name"]: m for m in spec["end_to_end"]}
    base, change = load(args.base), load(args.change)
    for (wl, trace) in sorted(set(base) & set(change)):
        b, c = base[(wl, trace)], change[(wl, trace)]
        if trace == 0:
            print(f"{wl}: {len(b)} base runs, {len(c)} change runs")
            for name, m in e2e.items():
                bv = {s: r["e2e"][name] for s, r in b.items() if name in r["e2e"]}
                cv = {s: r["e2e"][name] for s, r in c.items() if name in r["e2e"]}
                if not bv or not cv:
                    continue
                v = verdict(bv, cv, m["better"], m["bound"])
                qb, qc = quartiles(list(bv.values())), quartiles(list(cv.values()))
                print(f"  {name:<18} base {fmt(qb[1])} [{fmt(qb[0])}, {fmt(qb[2])}]"
                      f"  change {fmt(qc[1])} [{fmt(qc[0])}, {fmt(qc[2])}]"
                      f"  {m['unit']:<8} {v}")
        else:
            print(f"{wl} per layer: change in median (base)")
            names = sorted(next(iter(b.values()))["result"]["metrics"])
            for name in names:
                bv = [r["result"]["metrics"][name]["value"] for r in b.values()]
                cv = [r["result"]["metrics"][name]["value"] for r in c.values()
                      if name in r["result"]["metrics"]]
                if not cv:
                    continue
                mb, mc = median(bv), median(cv)
                if mb == mc == 0:
                    continue
                rel = f"{(mc - mb) / abs(mb):+.1%}" if mb else "new"
                print(f"  {name:<60} {mc - mb:+.4g} ({rel} of {fmt(mb)})")
    return 0


if __name__ == "__main__":
    sys.exit(main())
