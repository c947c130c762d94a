"""Explain a change between two benchmark results, layer by layer.

    python3 perfbench/diff.py OLD NEW

OLD and NEW are result files written by ``perfbench/run.py`` (under
``perfbench/results/``) or directories of them.  Files of one workload
and trace mode are combined by the median over seeds.  For every
workload the tool prints each end-to-end metric (untraced runs) and the
``TOP`` per-layer metrics (traced runs) that moved most, as a share of
the old value.
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import statistics
from collections import defaultdict

#: per-layer metrics shown per workload
TOP = 8


def load(path: str) -> dict[tuple[str, int], dict[str, float]]:
    """(workload, trace) -> {metric: median value over the files}."""
    files = (sorted(glob.glob(os.path.join(path, "*.json")))
             if os.path.isdir(path) else [path])
    values: dict[tuple[str, int], dict[str, list]] = defaultdict(
        lambda: defaultdict(list))
    for f in files:
        with open(f) as fh:
            r = json.load(fh)
        for name, m in r["metrics"].items():
            values[(r["workload"], r["trace"])][name].append(m["value"])
    return {k: {n: statistics.median(v) for n, v in ms.items()}
            for k, ms in values.items()}


def change(old: float, new: float) -> float:
    if old == new:
        return 0.0
    return (new - old) / abs(old) if old else float("inf")


def report(old: dict, new: dict) -> list[str]:
    lines = []
    for wl in sorted({w for w, _ in old} | {w for w, _ in new}):
        lines.append(f"== {wl}")
        for trace, title in ((0, "end to end"), (1, "per layer")):
            a, b = old.get((wl, trace)), new.get((wl, trace))
            if a is None and b is None:
                continue
            if a is None or b is None:
                lines.append(f"  {title}: missing in "
                             f"{'old' if a is None else 'new'}")
                continue
            rows = [(n, a[n], b[n], change(a[n], b[n]))
                    for n in a if n in b]
            if trace:
                rows = sorted((r for r in rows if r[3]),
                              key=lambda r: -abs(r[3]))[:TOP]
            lines.append(f"  {title}:")
            lines += [f"    {n:44s} {x:14.4f} -> {y:14.4f}  {c:+8.1%}"
                      for n, x, y, c in rows]
    return lines


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("old")
    p.add_argument("new")
    args = p.parse_args(argv)
    print("\n".join(report(load(args.old), load(args.new))))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
