"""tools/soak_slopes.py with the sbt call stubbed: bench() reads the
detail file from the output directory it hands graft.Bench, the slopes
land in target/soak/soak_slopes.json, and an --only refresh merges.

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


def _stub_sbt(monkeypatch, tmp_path, wall):
    """Stub soak_slopes.run: SoakGen creates its corpus marker, Bench
    writes a detail file timing each selected query at wall[query] * x."""
    monkeypatch.setattr(soak_slopes, "REPO", str(tmp_path))
    factor = {"/root/testdata/sf0.1": 1,
              f"{tmp_path}/target/soak/sf1": 10, f"{tmp_path}/target/soak/sf3": 30}

    def fake_run(cmd, env=None, log=None):
        main = cmd[-1].split(" ")
        if main[1] == "graft.SoakGen":
            os.makedirs(main[3], exist_ok=True)
            open(os.path.join(main[3], "documents.parquet"), "w").close()
            return
        x = factor[env["SPARK_GRAFT_SF_DIR"]]
        only = env.get("SPARK_GRAFT_ONLY")
        names = only.split(",") if only else sorted(wall)
        os.makedirs(main[2], exist_ok=True)
        with open(os.path.join(main[2], "bench_detail.json"), "w") as f:
            json.dump({"queries": {q: wall[q] * x for q in names},
                       "cpu_ms": {q: 1000 * wall[q] * x for q in names}, "failed": 0}, f)

    monkeypatch.setattr(soak_slopes, "run", fake_run)


def test_output_goes_beside_the_corpora_not_into_the_repo_root(tmp_path, monkeypatch):
    _stub_sbt(monkeypatch, tmp_path, {"q_a": 0.5, "v_knn_join": 1.0})
    soak_slopes.main([])
    assert not (tmp_path / "soak_slopes.json").exists()
    out = json.loads((tmp_path / "target" / "soak" / "soak_slopes.json").read_text())
    assert out["queries"]["q_a"]["wall_s"] == [0.5, 5.0, 15.0]
    assert out["queries"]["q_a"]["wall_slope"] == 1.0
    # skipped at x30 by default: a flagged two-point slope, not omitted
    assert out["queries"]["v_knn_join"]["two_point"] is True
    assert out["queries"]["v_knn_join"]["wall_s"] == [1.0, 10.0]


def test_only_refresh_merges_and_keeps_the_rows_it_did_not_measure(tmp_path, monkeypatch):
    _stub_sbt(monkeypatch, tmp_path, {"q_a": 0.5, "q_b": 2.0})
    path = tmp_path / "target" / "soak" / "soak_slopes.json"
    path.parent.mkdir(parents=True)
    kept = {"wall_s": [1.0, 2.0, 3.0], "wall_slope": 0.32, "cpu_s": [1.0, 2.0, 3.0], "cpu_slope": 0.32}
    path.write_text(json.dumps({"skipped_at_x30": [], "queries": {"q_a": dict(kept), "q_kept": kept}}))
    soak_slopes.main(["--only", "q_a"])
    out = json.loads(path.read_text())
    assert out["queries"]["q_a"]["wall_s"] == [0.5, 5.0, 15.0]
    assert out["queries"]["q_kept"] == kept
    assert "q_b" not in out["queries"]
