#!/usr/bin/env python3
"""Spark jobs per traced request, by key, phase and call site.

    python3 tools/trace_sites.py <run>.harness.spans.jsonl [key]

Reads the span file a traced perfbench run writes (`--trace 1`: one JSON
object per line; request -> phase -> job -> stage) and prints, for each
key (or only `key`) and each phase of its requests:

    <key> <phase>: <n> requests, <jobs> jobs, <s> s, <s> s outside jobs
      <jobs>  <call site>

Every figure is the median over the key's traced requests: the phase's
job count, its wall time, the part of that wall time no job of the phase
covers (driver work: planning, construction, collects), and per call site
(the job span's name, e.g. `count at Caches.scala:38`) its job count,
counting 0 for a request that ran none there. Sites are sorted by median
count, then name.
"""
import json
import statistics
import sys
from collections import Counter, defaultdict

PHASES = ("construct", "execute", "release")


def load(path):
    with open(path, encoding="utf-8") as f:
        return [json.loads(line) for line in f if line.strip()]


def covered(intervals, lo, hi):
    """Length of the union of `intervals`, clipped to [lo, hi]."""
    total, end = 0, lo
    for s, e in sorted(intervals):
        s, e = max(s, end), min(e, hi)
        if e > s:
            total += e - s
            end = e
    return total


def summarize(spans, key=None):
    """{key: {phase: {"requests", "jobs", "wall_s", "outside_s", "sites"}}}."""
    children = defaultdict(list)
    for s in spans:
        children[s["parent"]].append(s)
    requests = [s for s in spans if s["kind"] == "request" and key in (None, s["name"])]
    per = defaultdict(lambda: defaultdict(list))  # key -> phase -> [(jobs, wall, outside, sites)]
    for req in requests:
        for ph in (s for s in children[req["id"]] if s["kind"] == "phase"):
            js = [s for s in children[ph["id"]] if s["kind"] == "job"]
            lo, hi = ph["start_us"], ph["end_us"]
            wall = (hi - lo) / 1e6
            inside = covered([(j["start_us"], j["end_us"]) for j in js], lo, hi) / 1e6
            per[req["name"]][ph["name"]].append(
                (len(js), wall, wall - inside, Counter(j["name"] for j in js)))
    out = {}
    for k, phases in per.items():
        out[k] = {}
        for ph, runs in phases.items():
            sites = set().union(*(r[3] for r in runs))
            out[k][ph] = {
                "requests": len(runs),
                "jobs": statistics.median(r[0] for r in runs),
                "wall_s": statistics.median(r[1] for r in runs),
                "outside_s": statistics.median(r[2] for r in runs),
                "sites": {site: statistics.median(r[3][site] for r in runs) for site in sites},
            }
    return out


def render(summary):
    lines = []
    for k in sorted(summary):
        order = sorted(summary[k], key=lambda p: (PHASES.index(p) if p in PHASES else len(PHASES), p))
        for ph in order:
            r = summary[k][ph]
            lines.append(f"{k} {ph}: {r['requests']} requests, {r['jobs']:g} jobs, "
                         f"{r['wall_s']:.3f} s, {r['outside_s']:.3f} s outside jobs")
            for site, n in sorted(r["sites"].items(), key=lambda kv: (-kv[1], kv[0])):
                lines.append(f"  {n:>5g}  {site}")
    return lines


def main(argv):
    if len(argv) not in (2, 3):
        print(__doc__.strip(), file=sys.stderr)
        return 2
    summary = summarize(load(argv[1]), argv[2] if len(argv) == 3 else None)
    if not summary:
        print("no traced request" + (f" of {argv[2]}" if len(argv) == 3 else ""), file=sys.stderr)
        return 1
    print("\n".join(render(summary)))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))
