"""Summarise one set of benchmark runs, or compare two, workload by
workload.

    python3 perfbench/compare.py RESULTS_DIR
    python3 perfbench/compare.py BASE_DIR CHANGE_DIR

Each directory holds run records written by ``run.py --results DIR``.
With one directory it prints, for every (workload, end-to-end metric),
the run count, median, quartiles and spread (quartile distance over the
median).  With two, runs are paired by seed (only seeds both sets ran
count; sets without a shared seed are an error), and for every
(workload, end-to-end metric) it prints each side's median and
quartiles, the share of pairs the change wins (ties count for neither
side) and a verdict against the metric's bound in ``BENCHMARK.json``:

* ``improved``: the change wins at least 9 in 10 pairs and the medians
  differ by more than the base's quartile spread;
* ``worse``: the change's median is worse than the base's by more than
  the bound;
* ``unresolved``: the run-to-run spread of either side is wider than
  the bound, unless every change run beats every base run;
* ``no worse``: otherwise.
"""

from __future__ import annotations

import glob
import json
import os
import statistics
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def quartiles(xs: list[float]) -> tuple[float, float, float]:
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, q2, q3


def verdict(base: list[float], change: list[float], better: str, bound: float) -> dict:
    """§8 rule for one metric; ``base`` and ``change`` are paired by index."""
    sign = 1.0 if better == "lower" else -1.0
    qb, qc = quartiles(base), quartiles(change)
    mb, mc = qb[1], qc[1]
    pairs = list(zip(base, change))
    wins = sum(1 for b, c in pairs if sign * (c - b) < 0)
    share = wins / len(pairs) if pairs else 0.0
    worse_by = sign * (mc - mb) / mb if mb else 0.0
    spread = max((qb[2] - qb[0]) / mb if mb else 0.0, (qc[2] - qc[0]) / mc if mc else 0.0)
    if share >= 0.9 and sign * (mc - mb) < 0 and abs(mc - mb) > qb[2] - qb[0]:
        v = "improved"
    elif worse_by > bound:
        v = "worse"
    elif spread > bound and not all(sign * (c - b) < 0 for b in base for c in change):
        v = "unresolved"
    else:
        v = "no worse"
    return {"base": qb, "change": qc, "win_share": share, "pairs": len(pairs),
            "worse_by": worse_by, "verdict": v}


def load(directory: str) -> dict[str, dict[int, dict[str, float]]]:
    """workload -> seed -> end-to-end metrics, from untraced run records
    (the newest record wins when a seed ran twice)."""
    out: dict[str, dict[int, dict[str, float]]] = {}
    for path in sorted(glob.glob(os.path.join(directory, "*.json")), key=os.path.getmtime):
        if path.endswith(".spans.json"):
            continue
        with open(path) as fh:
            rec = json.load(fh)
        if rec.get("trace") == 0:
            out.setdefault(rec["workload"], {})[rec["seed"]] = rec["end_to_end"]
    return out


def pair(a: dict[int, dict], b: dict[int, dict], metric: str) -> tuple[list[float], list[float]]:
    """Values of the seeds both sides ran, paired by seed."""
    shared = sorted(set(a) & set(b))
    return [a[s][metric] for s in shared], [b[s][metric] for s in shared]


def summary(runs: dict[str, dict[int, dict[str, float]]], spec: dict) -> None:
    print(f"{'workload':<13} {'metric':<19} {'unit':<6} {'n':>3} {'q1':>10} "
          f"{'median':>10} {'q3':>10} {'spread':>7}")
    for wl in sorted(runs):
        for m in spec["end_to_end"]:
            xs = [r[m["name"]] for r in runs[wl].values()]
            q1, med, q3 = quartiles(xs)
            spread = (q3 - q1) / med if med else 0.0
            print(f"{wl:<13} {m['name']:<19} {m['unit']:<6} {len(xs):>3} {q1:>10.4g} "
                  f"{med:>10.4g} {q3:>10.4g} {spread:>7.1%}")


def main(argv: list[str]) -> int:
    if len(argv) not in (1, 2):
        print(__doc__, file=sys.stderr)
        return 2
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    if len(argv) == 1:
        summary(load(argv[0]), spec)
        return 0
    base, change = load(argv[0]), load(argv[1])
    print(f"{'workload':<13} {'metric':<19} {'unit':<6} {'base q1/med/q3':<28} "
          f"{'change q1/med/q3':<28} {'wins':>9} {'delta':>8}  verdict")
    for wl in sorted(set(base) & set(change)):
        for m in spec["end_to_end"]:
            xs, ys = pair(base[wl], change[wl], m["name"])
            if not xs:
                print(f"{wl}: the two sets share no seed", file=sys.stderr)
                return 1
            v = verdict(xs, ys, m["better"], m["bound"])
            fmt = "{:.4g}/{:.4g}/{:.4g}".format
            print(f"{wl:<13} {m['name']:<19} {m['unit']:<6} {fmt(*v['base']):<28} "
                  f"{fmt(*v['change']):<28} {v['win_share']:>5.0%} n={v['pairs']:<2} "
                  f"{v['worse_by']:>+8.1%}  {v['verdict']}")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
