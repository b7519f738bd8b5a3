"""tools/trace_sites.py on a hand-written perfbench span file.

    python3 -m pytest tools/tests
"""
import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

import trace_sites  # noqa: E402


def span(id, parent, kind, name, start, end, attrs=None):
    return {"id": id, "parent": parent, "request": 0, "kind": kind, "name": name,
            "start_us": start, "end_us": end, "attrs": attrs or {}}


def stage(id, parent, name, start, end, tasks, cpu_ms, deser_ms, shuffle_kb, output_kb):
    return span(id, parent, "stage", name, start, end, {
        "tasks": tasks, "cpu_ms": cpu_ms, "deser_ms": deser_ms,
        "shuffle_write_bytes": shuffle_kb * 1024.0, "output_bytes": output_kb * 1024.0})


# two traced requests of d_x and one of q_y; times in microseconds
SPANS = [
    # d_x, pass 0: construct 0-1.0 s with three jobs (two overlap), execute 1.0-1.5 s
    span(1, 0, "request", "d_x", 0, 1_600_000),
    span(2, 1, "phase", "construct", 0, 1_000_000),
    span(3, 2, "job", "count at Caches.scala:38", 100_000, 300_000),
    span(4, 2, "job", "count at Caches.scala:38", 200_000, 400_000),
    span(5, 2, "job", "localCheckpoint at Dedup.scala:278", 500_000, 600_000),
    stage(6, 5, "localCheckpoint at Dedup.scala:278", 500_000, 600_000, 4, 80.0, 20.0, 0, 0),
    span(7, 1, "phase", "execute", 1_000_000, 1_500_000),
    span(8, 7, "job", "save at Actions.scala:116", 1_000_000, 1_500_000),
    # the save job: a shuffle map stage, then the write stage
    # (an adaptive query stage is named after the thread that submitted it)
    stage(16, 8, "$anonfun$withThreadLocalCaptured$2 at CompletableFuture.java:1768",
          1_000_000, 1_200_000, 4, 40.0, 8.0, 12, 0),
    stage(17, 8, "save at Actions.scala:116", 1_200_000, 1_500_000, 1, 30.0, 2.0, 0, 26.5),
    span(9, 1, "phase", "release", 1_500_000, 1_600_000),
    # d_x, pass 3: construct 0-2.0 s with one job, no checkpoint
    span(10, 0, "request", "d_x", 2_000_000, 4_200_000),
    span(11, 10, "phase", "construct", 2_000_000, 4_000_000),
    span(12, 11, "job", "count at Caches.scala:38", 2_000_000, 2_500_000),
    stage(18, 12, "count at Caches.scala:38", 2_000_000, 2_500_000, 2, 100.0, 30.0, 1, 0),
    span(13, 10, "phase", "release", 4_000_000, 4_200_000),
    span(14, 0, "request", "q_y", 5_000_000, 5_100_000),
    span(15, 14, "phase", "construct", 5_000_000, 5_100_000),
]


def spans_file(tmp_path):
    p = tmp_path / "run.harness.spans.jsonl"
    p.write_text("".join(json.dumps(s) + "\n" for s in SPANS))
    return str(p)


def test_medians_per_phase_and_site(tmp_path):
    s = trace_sites.summarize(trace_sites.load(spans_file(tmp_path)))
    c = s["d_x"]["construct"]
    assert c["requests"] == 2
    assert c["jobs"] == 2  # median of 3 and 1
    assert c["wall_s"] == 1.5  # median of 1.0 and 2.0
    # pass 0: jobs cover 0.1-0.4 and 0.5-0.6 s -> 0.6 s outside; pass 3: 1.5 s
    assert abs(c["outside_s"] - 1.05) < 1e-9
    # a request without a site counts 0 there
    assert c["sites"] == {"count at Caches.scala:38": 1.5,
                          "localCheckpoint at Dedup.scala:278": 0.5}
    assert s["d_x"]["execute"]["requests"] == 1
    assert s["q_y"]["construct"]["jobs"] == 0


def test_key_filter_and_output(tmp_path, capsys):
    assert trace_sites.main(["trace_sites.py", spans_file(tmp_path), "d_x"]) == 0
    out = capsys.readouterr().out.splitlines()
    assert out[:3] == [
        "d_x construct: 2 requests, 2 jobs, 1.500 s, 1.050 s outside jobs",
        "    1.5  count at Caches.scala:38",
        "    0.5  localCheckpoint at Dedup.scala:278",
    ]
    assert out[3].startswith("d_x execute: 1 requests, 1 jobs")
    assert not any(line.startswith("q_y") for line in out)


def test_unknown_key(tmp_path):
    assert trace_sites.main(["trace_sites.py", spans_file(tmp_path), "nope"]) == 1


def test_stages_per_phase_and_site(tmp_path):
    s = trace_sites.summarize_stages(trace_sites.load(spans_file(tmp_path)))
    c = s["d_x"]["construct"]
    assert c["requests"] == 2
    # pass 0 ran its checkpoint stage, pass 3 none: median 0.5 per request;
    # the per-stage figures are over the one stage that ran
    assert c["sites"]["localCheckpoint at Dedup.scala:278"] == {
        "stages": 0.5, "tasks": 4, "cpu_ms": 80.0, "deser_ms": 20.0,
        "shuffle_write_bytes": 0.0, "output_bytes": 0.0}
    # the jobs at this site ran no stage in pass 0 (no stage span) and one in pass 3
    assert c["sites"]["count at Caches.scala:38"]["stages"] == 0.5
    assert c["sites"]["count at Caches.scala:38"]["cpu_ms"] == 100.0
    e = s["d_x"]["execute"]["sites"]["save at Actions.scala:116"]
    assert e["stages"] == 2
    assert e["tasks"] == 2.5 and e["cpu_ms"] == 35.0 and e["deser_ms"] == 5.0
    assert e["shuffle_write_bytes"] == 6 * 1024.0 and e["output_bytes"] == 13.25 * 1024.0
    assert s["q_y"]["construct"] == {"requests": 1, "sites": {}}


def test_stages_output(tmp_path, capsys):
    assert trace_sites.main(["trace_sites.py", "--stages", spans_file(tmp_path), "d_x"]) == 0
    out = capsys.readouterr().out.splitlines()
    assert out[0] == "d_x construct: 2 requests"
    assert out[1] == ("    0.5 stages, per stage: 2 tasks, 100 ms cpu, 30 ms deser, "
                      "1.0 KB shuffle write, 0.0 KB output  count at Caches.scala:38")
    assert out[3] == "d_x execute: 1 requests"
    assert out[4] == ("      2 stages, per stage: 2.5 tasks, 35 ms cpu, 5 ms deser, "
                      "6.0 KB shuffle write, 13.2 KB output  save at Actions.scala:116")
    assert not any(line.startswith("q_y") for line in out)
