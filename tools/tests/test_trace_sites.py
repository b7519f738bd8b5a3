"""tools/trace_sites.py on a hand-written perfbench span file.

    python3 -m pytest tools/tests
"""
import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

import trace_sites  # noqa: E402


def span(id, parent, kind, name, start, end):
    return {"id": id, "parent": parent, "request": 0, "kind": kind, "name": name,
            "start_us": start, "end_us": end, "attrs": {}}


# two traced requests of d_x and one of q_y; times in microseconds
SPANS = [
    # d_x, pass 0: construct 0-1.0 s with three jobs (two overlap), execute 1.0-1.5 s
    span(1, 0, "request", "d_x", 0, 1_600_000),
    span(2, 1, "phase", "construct", 0, 1_000_000),
    span(3, 2, "job", "count at Caches.scala:38", 100_000, 300_000),
    span(4, 2, "job", "count at Caches.scala:38", 200_000, 400_000),
    span(5, 2, "job", "localCheckpoint at Dedup.scala:278", 500_000, 600_000),
    span(6, 5, "stage", "localCheckpoint at Dedup.scala:278", 500_000, 600_000),
    span(7, 1, "phase", "execute", 1_000_000, 1_500_000),
    span(8, 7, "job", "save at Actions.scala:116", 1_000_000, 1_500_000),
    span(9, 1, "phase", "release", 1_500_000, 1_600_000),
    # d_x, pass 3: construct 0-2.0 s with one job, no checkpoint
    span(10, 0, "request", "d_x", 2_000_000, 4_200_000),
    span(11, 10, "phase", "construct", 2_000_000, 4_000_000),
    span(12, 11, "job", "count at Caches.scala:38", 2_000_000, 2_500_000),
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
