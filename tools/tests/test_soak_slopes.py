"""tools/soak_slopes.py's bench() reads the detail file from the output
directory it hands graft.Bench, with the sbt call stubbed.

    python3 -m pytest tools/tests
"""
import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

import soak_slopes  # noqa: E402


def test_bench_reads_the_detail_file_of_its_own_output_directory(tmp_path, monkeypatch):
    monkeypatch.setattr(soak_slopes, "REPO", str(tmp_path))
    # a stale record at the repo root, where Bench no longer writes
    (tmp_path / "bench_detail.json").write_text(json.dumps({"queries": {"stale": 1.0}}))
    calls = []

    def fake_run(cmd, env=None, log=None):
        calls.append((cmd, env))
        out = cmd[-1].split(" ", 2)[2]
        os.makedirs(out, exist_ok=True)
        with open(os.path.join(out, "bench_detail.json"), "w") as f:
            json.dump({"queries": {"q_a": 0.5}, "cpu_ms": {"q_a": 120}, "failed": 0}, f)

    monkeypatch.setattr(soak_slopes, "run", fake_run)
    d = soak_slopes.bench("/data/sf1", "x10", only="q_a")
    assert d["queries"] == {"q_a": 0.5}
    (cmd, env), = calls
    assert cmd[-1] == f"runMain graft.Bench {tmp_path}/target/soak/bench_x10"
    assert env == {"SPARK_GRAFT_SF_DIR": "/data/sf1", "SPARK_GRAFT_ONLY": "q_a"}
