#!/usr/bin/env python3
"""Spark jobs (or stages) per traced request, by key, phase and call site.

    python3 tools/trace_sites.py [--stages] <run>.harness.spans.jsonl [key]

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

With `--stages`, the same grouping over stage spans instead:

    <key> <phase>: <n> requests
      <stages> stages, per stage: <tasks> tasks, <ms> ms cpu, <ms> ms deser,
        <KB> KB shuffle write, <KB> KB output  <call site>

A stage's call site is its job's. `stages` is the median count per
request (0 where a request ran none at that site); the per-stage figures
are medians over every such stage of the key's traced requests, from the
task metrics the harness sums onto each stage span.
"""
import json
import statistics
import sys
from collections import Counter, defaultdict

PHASES = ("construct", "execute", "release")
# per-stage task-metric sums on a stage span's attrs
STAGE_FIELDS = ("tasks", "cpu_ms", "deser_ms", "shuffle_write_bytes", "output_bytes")


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


def phases(spans, key=None):
    """(children by parent id, [(request, phase span)]) of `key`'s requests."""
    children = defaultdict(list)
    for s in spans:
        children[s["parent"]].append(s)
    requests = [s for s in spans if s["kind"] == "request" and key in (None, s["name"])]
    return children, [(req, ph) for req in requests
                      for ph in children[req["id"]] if ph["kind"] == "phase"]


def summarize(spans, key=None):
    """{key: {phase: {"requests", "jobs", "wall_s", "outside_s", "sites"}}}."""
    children, reqs = phases(spans, key)
    per = defaultdict(lambda: defaultdict(list))  # key -> phase -> [(jobs, wall, outside, sites)]
    for req, ph in reqs:
        js = [s for s in children[ph["id"]] if s["kind"] == "job"]
        lo, hi = ph["start_us"], ph["end_us"]
        wall = (hi - lo) / 1e6
        inside = covered([(j["start_us"], j["end_us"]) for j in js], lo, hi) / 1e6
        per[req["name"]][ph["name"]].append(
            (len(js), wall, wall - inside, Counter(j["name"] for j in js)))
    out = {}
    for k, by_phase in per.items():
        out[k] = {}
        for ph, runs in by_phase.items():
            sites = set().union(*(r[3] for r in runs))
            out[k][ph] = {
                "requests": len(runs),
                "jobs": statistics.median(r[0] for r in runs),
                "wall_s": statistics.median(r[1] for r in runs),
                "outside_s": statistics.median(r[2] for r in runs),
                "sites": {site: statistics.median(r[3][site] for r in runs) for site in sites},
            }
    return out


def summarize_stages(spans, key=None):
    """{key: {phase: {"requests", "sites": {site: {"stages", *STAGE_FIELDS}}}}}."""
    children, reqs = phases(spans, key)
    # a stage's own name is the call site of whatever submitted it (an
    # adaptive query stage names a CompletableFuture frame), so stages
    # take their job's name as their site
    per = defaultdict(lambda: defaultdict(list))  # key -> phase -> [[(site, stage span)]] per request
    for req, ph in reqs:
        per[req["name"]][ph["name"]].append(
            [(j["name"], st) for j in children[ph["id"]] if j["kind"] == "job"
             for st in children[j["id"]] if st["kind"] == "stage"])
    out = {}
    for k, by_phase in per.items():
        out[k] = {}
        for ph, runs in by_phase.items():
            sites = {}
            for site in {name for run in runs for name, _ in run}:
                at = [[st for name, st in run if name == site] for run in runs]
                every = [st for run in at for st in run]
                sites[site] = {"stages": statistics.median(len(run) for run in at)}
                for f in STAGE_FIELDS:
                    sites[site][f] = statistics.median(st["attrs"].get(f, 0) for st in every)
            out[k][ph] = {"requests": len(runs), "sites": sites}
    return out


def phase_order(by_phase):
    return sorted(by_phase, key=lambda p: (PHASES.index(p) if p in PHASES else len(PHASES), p))


def render(summary):
    lines = []
    for k in sorted(summary):
        for ph in phase_order(summary[k]):
            r = summary[k][ph]
            lines.append(f"{k} {ph}: {r['requests']} requests, {r['jobs']:g} jobs, "
                         f"{r['wall_s']:.3f} s, {r['outside_s']:.3f} s outside jobs")
            for site, n in sorted(r["sites"].items(), key=lambda kv: (-kv[1], kv[0])):
                lines.append(f"  {n:>5g}  {site}")
    return lines


def render_stages(summary):
    lines = []
    for k in sorted(summary):
        for ph in phase_order(summary[k]):
            r = summary[k][ph]
            lines.append(f"{k} {ph}: {r['requests']} requests")
            for site, m in sorted(r["sites"].items(), key=lambda kv: (-kv[1]["stages"], kv[0])):
                lines.append(f"  {m['stages']:>5g} stages, per stage: {m['tasks']:g} tasks, "
                             f"{m['cpu_ms']:.0f} ms cpu, {m['deser_ms']:.0f} ms deser, "
                             f"{m['shuffle_write_bytes'] / 1024:.1f} KB shuffle write, "
                             f"{m['output_bytes'] / 1024:.1f} KB output  {site}")
    return lines


def main(argv):
    args = argv[1:]
    stages = "--stages" in args
    args = [a for a in args if a != "--stages"]
    if len(args) not in (1, 2):
        print(__doc__.strip(), file=sys.stderr)
        return 2
    key = args[1] if len(args) == 2 else None
    spans = load(args[0])
    summary = summarize_stages(spans, key) if stages else summarize(spans, key)
    if not summary:
        print("no traced request" + (f" of {key}" if key else ""), file=sys.stderr)
        return 1
    print("\n".join(render_stages(summary) if stages else render(summary)))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))
