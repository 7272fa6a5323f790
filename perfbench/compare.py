#!/usr/bin/env python3
"""Compare the benchmark runs of a parent and a change.

    python3 perfbench/compare.py PARENT_RESULTS CHANGE_RESULTS

Each argument is a directory of result files written by ``run.py`` (its
``.perfbench/results``, copied aside after running the parent's and the
change's checkouts alternately, same seeds on both sides).  Untraced runs
are paired by workload and seed, in run order.  One row is printed per
workload and end-to-end metric: both sides' quartiles, the share of pairs
the change won, and a verdict by the rule in ``stats.verdict`` with the
bounds of ``BENCHMARK.json``.
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import stats  # noqa: E402


def load_runs(path: str) -> dict[tuple[str, int], list[dict]]:
    runs: dict[tuple[str, int], list[dict]] = {}
    for f in sorted(glob.glob(os.path.join(path, "*.json"))):
        with open(f) as fh:
            r = json.load(fh)
        if r.get("trace") == 0:
            runs.setdefault((r["workload"], r["seed"]), []).append(r)
    return runs


def pairs(parent: dict, change: dict) -> dict[str, list[tuple[dict, dict]]]:
    """Runs of both sides with the same workload and seed, per workload."""
    out: dict[str, list[tuple[dict, dict]]] = {}
    for key in sorted(parent.keys() & change.keys()):
        for p, c in zip(parent[key], change[key]):
            out.setdefault(key[0], []).append((p, c))
    return out


def rows(paired: dict[str, list[tuple[dict, dict]]], spec: dict) -> list[dict]:
    out = []
    for workload, runs in sorted(paired.items()):
        for m in spec["end_to_end"]:
            name = m["name"]
            p = [r["end_to_end"][name] for r, _ in runs]
            c = [r["end_to_end"][name] for _, r in runs]
            v = stats.verdict(p, c, m["better"], m["bound"])
            out.append({"workload": workload, "metric": name, "unit": m["unit"], "verdict": v})
    return out


def _fmt(q: tuple[float, float, float]) -> str:
    return f"{q[1]:.4g} [{q[0]:.4g}, {q[2]:.4g}]"


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("parent")
    ap.add_argument("change")
    ap.add_argument("--spec", default=os.path.join(os.path.dirname(HERE), "BENCHMARK.json"))
    args = ap.parse_args(argv)
    with open(args.spec) as fh:
        spec = json.load(fh)
    paired = pairs(load_runs(args.parent), load_runs(args.change))
    if not paired:
        print("no runs with the same workload and seed on both sides", file=sys.stderr)
        return 2
    print(f"{'workload':12} {'metric':16} {'unit':8} {'parent median [q1, q3]':28} "
          f"{'change median [q1, q3]':28} {'won':>9}  verdict")
    for row in rows(paired, spec):
        v = row["verdict"]
        won = f"{round(v.won * v.pairs)}/{v.pairs}"
        print(f"{row['workload']:12} {row['metric']:16} {row['unit']:8} {_fmt(v.parent_q):28} "
              f"{_fmt(v.change_q):28} {won:>9}  {v.verdict}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
