#!/usr/bin/env python3
"""Turn a harness result (and, for a traced run, its span file) into metrics.

    python3 perfbench/summarize.py .bench_build/results/<run>.harness.json

prints the end-to-end metrics, and for a traced run the per-layer metrics,
per-layer self time, the tracing overhead and the per-key breakdown.

Layers and what they are measured from (spans written by perfbench.Harness):
  Tables     jobs whose Spark call site is Tables.scala (schema inference)
  operators  the construct phase of a request (SparkEntry.queries(key) call)
  Caches     barrier jobs at Caches.scala, relations tracked, release phase
  plan       QueryPlanningTracker phases of every executed QueryExecution
  execute    the execute phase (Actions.materialize) and its jobs
  scheduler  task scheduler delay and idle task slots
  executor   task run, CPU, GC and deserialize time, peak execution memory
  shuffle    shuffle bytes, fetch wait, spill
  sources    output metrics of writes outside the noop execute sink
Totals are per traced pass (one pass = every key of the workload once).
"""
import collections
import json
import os
import re
import sys

import stats

MB = 1024 * 1024
END_TO_END_UNITS = {
    "setup_s": "s", "setup_wall_s": "s", "first_setup_s": "s", "wall_s": "s", "query_p50_s": "s", "query_p90_s": "s", "driver_cpu_s": "s",
    "executor_cpu_s": "s", "peak_rss_mb": "MB", "error_rate": "ratio"}
# construct-phase jobs are also counted per call-site file: the files that
# start jobs while the benchmark's keys construct
CONSTRUCT_FILES = ["Tables", "Caches", "Dedup", "Vectors", "Layout"]


def end_to_end(h, verdict):
    """End-to-end report of one harness result; `verdict` is key -> None | failure."""
    untraced = [p for p in h["passes"] if not p["traced"]]
    untraced_ids = {i for i, p in enumerate(h["passes"]) if not p["traced"]}
    reqs = h["requests"]
    failed = [r for r in reqs if r["error"] or verdict.get(r["key"])]
    timed = [r["latency_s"] for r in reqs if r["pass"] in untraced_ids and not r["error"]]
    p90 = stats.percentile(timed, 90)
    e2e = {
        # set-up CPU, as host load moves set-up wall time (setup_wall_s)
        "setup_s": stats.median(h["setup_cpu_s"]),
        "setup_wall_s": stats.median(h["setup_wall_s"]),
        "first_setup_s": h["first_setup_s"],
        "wall_s": stats.median([p["wall_s"] for p in untraced]),
        "query_p50_s": stats.median(timed) if timed else None,
        "query_p90_s": p90,
        "driver_cpu_s": stats.median([p["driver_cpu_s"] for p in untraced]),
        "executor_cpu_s": stats.median([p["executor_cpu_s"] for p in untraced]),
        "peak_rss_mb": h["peak_rss_mb"],
        "error_rate": len(failed) / len(reqs),
    }
    out = {k: {"value": v, "unit": END_TO_END_UNITS[k]} for k, v in e2e.items()}
    out["query_p90_s"]["samples"] = len(timed)
    failed_keys = {r["key"]: r["error"] or verdict[r["key"]] for r in failed}
    return {
        "workload": h["workload"], "seed": h["seed"], "seconds": h["seconds"], "trace": h["trace"],
        "sf": os.path.basename(h["sf_dir"]), "nproc": h["nproc"], "heap_mb": h["heap_mb"],
        "spark_version": h["spark_version"], "conf": h["conf"], "passes": len(h["passes"]),
        "setup_cpu_runs_s": h["setup_cpu_s"], "setup_wall_runs_s": h["setup_wall_s"],
        "correct": not failed, "attempted": len(reqs), "failed": len(failed),
        "failed_keys": failed_keys, "end_to_end": out,
    }


def site_file(site):
    """The source file a Spark call site names: `count at Dedup.scala:412` -> `Dedup`."""
    m = re.search(r"at ([A-Za-z0-9_$]+)\.(?:scala|java):\d+", site)
    return m.group(1) if m else ""


def load_spans(path):
    with open(path) as f:
        spans = [json.loads(l) for l in f if l.strip()]
    for s in spans:
        s["start"], s["end"] = s["start_us"] / 1e6, s["end_us"] / 1e6
        if s["kind"] == "job":
            s["site_file"] = site_file(s["name"])
    return spans


def layer_metrics(spans, own, wall_s, nproc):
    """Per-layer totals over `spans` (whole request trees) and their self times."""
    by_id = {s["id"]: s for s in spans}
    kind = collections.defaultdict(list)
    for s in spans:
        kind[s["kind"]].append(s)

    def phase_of(s):
        while s["kind"] not in ("phase", "request"):
            s = by_id[s["parent"]]
        return s["name"]

    def dur(s):
        return s["end"] - s["start"]

    def attr(ss, k):
        return sum(s["attrs"].get(k, 0.0) for s in ss)

    jobs, stages, reqs = kind["job"], kind["stage"], kind["request"]
    construct_jobs = [j for j in jobs if phase_of(j) == "construct"]
    execute_jobs = [j for j in jobs if phase_of(j) == "execute"]
    execute_stages = [s for s in stages if phase_of(s) == "execute"]
    write_stages = [s for s in stages if phase_of(s) != "execute"]
    phases = collections.defaultdict(float)
    for p in kind["phase"]:
        phases[p["name"]] += dur(p)
    run_s = attr(stages, "run_ms") / 1e3
    m = {
        "Tables.jobs": sum(1 for j in jobs if j["site_file"] == "Tables"),
        "Tables.job_s": sum(dur(j) for j in jobs if j["site_file"] == "Tables"),
        "operators.construct_s": phases["construct"],
        "operators.construct_jobs": len(construct_jobs),
        "operators.construct_job_s": sum(dur(j) for j in construct_jobs),
    }
    for f in CONSTRUCT_FILES:
        m[f"operators.construct_jobs.{f}"] = sum(1 for j in construct_jobs if j["site_file"] == f)
    m.update({
        "Caches.barrier_jobs": sum(1 for j in jobs if j["site_file"] == "Caches"),
        "Caches.tracked": attr(reqs, "caches_tracked"),
        "Caches.release_s": phases["release"],
        "plan.analysis_s": attr(reqs, "plan_analysis_ms") / 1e3,
        "plan.optimization_s": attr(reqs, "plan_optimization_ms") / 1e3,
        "plan.planning_s": attr(reqs, "plan_planning_ms") / 1e3,
        "plan.executions": attr(reqs, "plan_executions"),
        "plan.broadcast_exchanges": attr(reqs, "plan_broadcast_exchanges"),
        "execute.s": phases["execute"],
        "execute.jobs": len(execute_jobs),
        "execute.stages": len(execute_stages),
        "execute.tasks": attr(execute_stages, "tasks"),
        "scheduler.task_delay_s": attr(stages, "delay_ms") / 1e3,
        "scheduler.idle_slot_frac": 1 - run_s / (wall_s * nproc) if wall_s > 0 else None,
        "executor.run_s": run_s,
        "executor.cpu_s": attr(stages, "cpu_ms") / 1e3,
        "executor.gc_s": attr(stages, "gc_ms") / 1e3,
        "executor.deser_s": attr(stages, "deser_ms") / 1e3,
        "executor.peak_mem_mb": max([s["attrs"].get("peak_mem_bytes", 0.0) for s in stages] + [0.0]) / MB,
        "shuffle.write_mb": attr(stages, "shuffle_write_bytes") / MB,
        "shuffle.read_mb": attr(stages, "shuffle_read_bytes") / MB,
        "shuffle.fetch_wait_s": attr(stages, "fetch_wait_ms") / 1e3,
        "spill.memory_mb": attr(stages, "spill_memory_bytes") / MB,
        "spill.disk_mb": attr(stages, "spill_disk_bytes") / MB,
        "sources.write_mb": attr(write_stages, "output_bytes") / MB,
        "sources.rows_written": attr(write_stages, "output_records"),
    })
    # self time by layer: driver-side work in a phase is the phase's own time,
    # job time no stage covers is scheduling, stage time is executor time
    for s in spans:
        key = {"request": "self.request_s", "job": "self.job_s", "stage": "self.stage_s"}.get(
            s["kind"], f"self.{s['name']}_s")
        m[key] = m.get(key, 0.0) + own[s["id"]]
    return m


# metrics that are not sums, so not divided by the number of passes
NOT_SUMMED = {"scheduler.idle_slot_frac", "executor.peak_mem_mb"}


def trace(h):
    """(per-layer metrics, per-key breakdown, tracing overhead in s) of a traced run."""
    spans = load_spans(h["spans"])
    own = stats.shared_self_times(spans)
    traced = [p for p in h["passes"] if p["traced"]]
    untraced = [p for p in h["passes"] if not p["traced"]]
    n = len(traced)
    traced_wall = sum(p["end_us"] - p["start_us"] for p in traced) / 1e6
    m = layer_metrics(spans, own, traced_wall, h["nproc"])
    requests = [(s["start"], s["end"]) for s in spans if s["kind"] == "request"]
    covered = 0.0
    for p in traced:
        a, b = p["start_us"] / 1e6, p["end_us"] / 1e6
        covered += stats.union_length([(max(x, a), min(y, b)) for x, y in requests if y > a and x < b])
    m["gap_s"] = traced_wall - covered
    self_total = sum(v for k, v in m.items() if k.startswith("self."))
    # self times plus the gaps between requests must rebuild the traced wall
    m["trace.unaccounted_s"] = traced_wall - self_total - m["gap_s"]
    layers = {k: (v if k in NOT_SUMMED or v is None else v / n) for k, v in m.items()}
    overhead = stats.median([p["wall_s"] for p in traced]) - stats.median([p["wall_s"] for p in untraced])
    layers["trace.wall_s"] = stats.median([p["wall_s"] for p in traced])
    layers["trace.overhead_s"] = overhead

    by_request = collections.defaultdict(list)
    for s in spans:
        by_request[s["request"]].append(s)
    by_key = collections.defaultdict(list)
    for tree in by_request.values():
        root = next(s for s in tree if s["kind"] == "request")
        by_key[root["name"]].append(tree)
    per_key = {}
    for key, trees in by_key.items():
        flat = [s for t in trees for s in t]
        wall = sum(s["end"] - s["start"] for s in flat if s["kind"] == "request")
        km = layer_metrics(flat, own, wall, h["nproc"])
        per_key[key] = {k: (v if k in NOT_SUMMED or v is None else v / len(trees))
                        for k, v in km.items()}
        per_key[key]["requests"] = len(trees)
    return {k: {"value": v, "unit": unit(k)} for k, v in layers.items()}, per_key, overhead


def unit(name):
    if name.endswith("_mb"):
        return "MB"
    if name.endswith("_s") or name == "execute.s":
        return "s"
    if name.endswith("_frac"):
        return "ratio"
    return "count"


def main():
    with open(sys.argv[1]) as f:
        h = json.load(f)
    # the DuckDB verdicts live in run.py's report; here only dump errors count
    rep = end_to_end(h, h["check"])
    for k, v in rep["end_to_end"].items():
        print(f"{k:<16} {v['value']!s:>12} {v['unit']}")
    if h["spans"]:
        layers, per_key, overhead = trace(h)
        print()
        for k, v in layers.items():
            print(f"{k:<36} {v['value']!s:>14} {v['unit']}")
        print(f"\ntracing overhead: {overhead:+.3f} s per pass")
        cols = ["operators.construct_s", "execute.s", "executor.cpu_s", "operators.construct_jobs",
                "execute.jobs", "Tables.jobs"]
        print(f"\n{'key':<28}" + "".join(f"{c:>26}" for c in cols))
        for key in sorted(per_key, key=lambda k: -per_key[k]["operators.construct_s"] - per_key[k]["execute.s"]):
            print(f"{key:<28}" + "".join(f"{per_key[key][c]:>26.3f}" for c in cols))


if __name__ == "__main__":
    main()
