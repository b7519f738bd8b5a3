#!/usr/bin/env python3
"""Compare the benchmark runs of two commits, one row per workload.

    python3 perfbench/compare.py BASE_RESULTS_DIR CHANGE_RESULTS_DIR

Each directory holds the run reports run.py keeps under
$CARGO_TARGET_DIR/results (one <run>.json per run). Make the runs in
alternating pairs (base, change, change, base, ...) with the same seeds and
--seconds; the i-th untraced run of a workload on each side forms pair i.

For every workload and end-to-end metric of BENCHMARK.json it reports each
side's median and quartiles, the share of pairs the change wins (ties count
for neither side), and a verdict:
  better      wins >= 9/10 of the pairs and the medians differ by more than
              the base's quartile spread
  worse       the change's median is worse than the base's by more than the
              metric's bound
  unresolved  a side's quartile spread exceeds the bound, unless every
              change run beats every base run (then: better)
  same        otherwise
"""
import glob
import json
import os
import sys

import stats

HERE = os.path.dirname(os.path.abspath(__file__))


def load_runs(d):
    runs = {}
    for path in sorted(glob.glob(os.path.join(d, "*.json"))):
        if path.endswith((".harness.json", ".per_key.json")):
            continue
        with open(path) as f:
            r = json.load(f)
        if not r.get("trace"):
            runs.setdefault(r["workload"], []).append(r)
    return runs


def verdict(base, change, better, bound):
    """Compare two lists of one metric's values; returns a dict for the table."""
    sign = 1 if better == "lower" else -1
    bq, cq = stats.quartiles(base), stats.quartiles(change)
    pairs = list(zip(base, change))
    wins = sum(1 for b, c in pairs if sign * (c - b) < 0)
    worse_by = sign * (cq[1] - bq[1]) / bq[1]
    spread = max((q[2] - q[0]) / q[1] for q in (bq, cq))
    every_run_better = all(sign * (c - b) < 0 for b in base for c in change)
    if spread > bound and not every_run_better:
        v = "unresolved"
    elif worse_by > bound:
        v = "worse"
    elif wins >= 0.9 * len(pairs) and abs(cq[1] - bq[1]) > bq[2] - bq[0] and worse_by < 0:
        v = "better"
    else:
        v = "same"
    return {"base": bq, "change": cq, "wins": wins, "pairs": len(pairs),
            "change_pct": 100 * (cq[1] - bq[1]) / bq[1],
            "spread": spread, "verdict": v}


def main():
    if len(sys.argv) != 3:
        sys.exit(__doc__)
    with open(os.path.join(HERE, "..", "BENCHMARK.json")) as f:
        metrics = json.load(f)["end_to_end"]
    base, change = load_runs(sys.argv[1]), load_runs(sys.argv[2])
    print(f"{'workload':<12} " + " ".join(f"{m['name']:>30}" for m in metrics))
    details = []
    for w in sorted(set(base) & set(change)):
        cells = []
        for m in metrics:
            b = [r["end_to_end"][m["name"]]["value"] for r in base[w]]
            c = [r["end_to_end"][m["name"]]["value"] for r in change[w]]
            v = verdict(b, c, m["better"], m["bound"])
            cells.append(f"{v['change_pct']:+.1f}% {v['wins']}/{v['pairs']} {v['verdict']}")
            details.append((w, m, v))
        print(f"{w:<12} " + " ".join(f"{c:>30}" for c in cells))
    print()
    for w, m, v in details:
        (b1, b2, b3), (c1, c2, c3) = v["base"], v["change"]
        print(f"{w:<12} {m['name']:<16} base {b2:.4g} [{b1:.4g}, {b3:.4g}]  "
              f"change {c2:.4g} [{c1:.4g}, {c3:.4g}] {m['unit']}  spread {v['spread']:.3f} "
              f"(bound {m['bound']})  {v['verdict']}")


if __name__ == "__main__":
    main()
