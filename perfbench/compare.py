#!/usr/bin/env python3
"""Compares two sets of benchmark runs.

Usage: python3 perfbench/compare.py BASE_DIR CHANGE_DIR

Each directory holds result files written by `run.py --out DIR`. For every
workload and end-to-end metric it prints both sets' medians and quartiles,
their spreads (interquartile range over median), how many of the paired
runs the change wins, and a verdict:

  improved    the change wins at least 9 in 10 pairs (ties count for
              neither) and the medians differ by more than the base's
              interquartile range
  worse       the change's median is worse by more than the metric's bound
  no worse    the change's median is worse by at most the bound
  unresolved  a set's spread is wider than the bound, unless every change
              run reads better than every base run

Runs are paired in the order they were made, so run them alternately.
Bounds come from BENCHMARK.json. `failed_frac` has no bound: any increase
in the worst run is worse. Metrics without a bound (`op_tail_s`,
`write_op_p50_s`) get no verdict.
Exits 1 if any verdict is worse or unresolved.
"""
import json
import statistics
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent


def load(d):
    runs = {}
    for f in Path(d).glob("*.json"):
        if f.name.endswith(".spans.json"):
            continue
        r = json.loads(f.read_text())
        if r.get("trace") == 0:
            runs.setdefault(r["workload"], []).append((f.stat().st_mtime, r))
    return {w: [r for _, r in sorted(rs, key=lambda x: x[0])] for w, rs in runs.items()}


def quartiles(v):
    if len(v) < 2:
        return v[0], v[0], v[0]
    q = statistics.quantiles(v, n=4)
    return q[0], statistics.median(v), q[2]


def verdict(a, b, better, bound):
    q1a, ma, q3a = quartiles(a)
    q1b, mb, q3b = quartiles(b)
    sign = 1 if better == "higher" else -1
    pairs = list(zip(a, b))
    wins = sum(1 for x, y in pairs if sign * (y - x) > 0)
    if bound is None:
        return wins, len(pairs), "-"
    if len(pairs) >= 10 and wins >= 0.9 * len(pairs) and sign * (mb - ma) > (q3a - q1a):
        return wins, len(pairs), "improved"
    spread = max((q3a - q1a) / ma if ma else 0, (q3b - q1b) / mb if mb else 0)
    if spread > bound:
        all_better = all(sign * (y - x) > 0 for x in a for y in b)
        return wins, len(pairs), "no worse" if all_better else "unresolved"
    worse_by = sign * (ma - mb) / ma if ma else 0
    return wins, len(pairs), "worse" if worse_by > bound else "no worse"


def main(base_dir, change_dir):
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    metrics = [(m["name"], m["unit"], m["better"], m["bound"]) for m in spec["end_to_end"]]
    metrics += [("op_tail_s", "s", "lower", None), ("write_op_p50_s", "s", "lower", None),
                ("failed_frac", "1", "lower", None)]
    base, change = load(base_dir), load(change_dir)
    bad = 0
    print(f"{'workload':22s} {'metric':15s} {'base median [q1,q3]':>30s} {'spread':>7s} "
          f"{'change median [q1,q3]':>30s} {'spread':>7s} {'wins':>6s}  verdict")
    for w in sorted(set(base) & set(change)):
        for name, unit, better, bound in metrics:
            a = [r["end_to_end"][name]["value"] for r in base[w] if name in r["end_to_end"]]
            b = [r["end_to_end"][name]["value"] for r in change[w] if name in r["end_to_end"]]
            if not a or not b:
                continue
            qa, qb = quartiles(a), quartiles(b)
            wins, n, v = verdict(a, b, better, bound)
            if name == "failed_frac":
                v = "worse" if max(b) > max(a) else "no worse"
            bad += v in ("worse", "unresolved")
            sa = (qa[2] - qa[0]) / qa[1] if qa[1] else 0
            sb = (qb[2] - qb[0]) / qb[1] if qb[1] else 0
            cell_a = f"{qa[1]:.4g} [{qa[0]:.4g},{qa[2]:.4g}] {unit}"
            cell_b = f"{qb[1]:.4g} [{qb[0]:.4g},{qb[2]:.4g}] {unit}"
            print(f"{w:22s} {name:15s} {cell_a:>30s} {sa:7.3f} {cell_b:>30s} {sb:7.3f} "
                  f"{wins:>2d}/{n:<3d}  {v}")
    return 1 if bad else 0


if __name__ == "__main__":
    if len(sys.argv) != 3:
        sys.exit(__doc__)
    sys.exit(main(sys.argv[1], sys.argv[2]))
