"""tools/plan_diff.py on two hand-written Explain dumps.

    python3 -m pytest tools/tests
"""
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

import plan_diff  # noqa: E402

RUN_A = """[info] ===== q_x =====
[info] AdaptiveSparkPlan isFinalPlan=true
[info] +- == Final Plan ==
[info]    ResultQueryStage 3
[info]    +- *(2) Project [a#12, _common_expr_4#13 AS b#14]
[info]       +- *(2) Filter bloom_contains_long(a#12, Broadcast(280))
[info]          +- MapPartitions graft.X$$$Lambda$5707/0x00007f918564b288@47e83cec, obj#15
[info]             +- Generate explode(org.apache.spark.sql.catalyst.expressions.UnsafeArrayData@9a6059cd)
[info] ===== q_y =====
[info] Project [a#1]
[info] ===== src_z =====
[info] +- FileScan json [user_id#3] Location: InMemoryFileIndex(1 paths)[file:/tmp/graft_chatlog_fixture.jvm-25376-150988cb/chat_logs], PartitionFilters: []
[info] ===== p_w =====
[info] +- FileScan parquet [doc_id#8] Batched: true, DataFilters: [isnotnull(doc_id#8), (pmod(cast(conv(substring(md5(cast(cast(doc_id#8 as string) as bina..., Format: Parquet, PartitionFilters: [], PushedFilters: [IsNotNull(doc_id)]
"""

# the same plans from another process: every run-specific name moved
RUN_B = """[info] ===== q_x =====
[info] AdaptiveSparkPlan isFinalPlan=true
[info] +- == Final Plan ==
[info]    ResultQueryStage 5
[info]    +- *(4) Project [a#90, _common_expr_7#91 AS b#92]
[info]       +- *(4) Filter bloom_contains_long(a#90, Broadcast(1019))
[info]          +- MapPartitions graft.X$$$Lambda$5734/0x00007f53dd64b080@4861f09b, obj#93
[info]             +- Generate explode(org.apache.spark.sql.catalyst.expressions.UnsafeArrayData@1c2b3a4d)
[info] ===== q_y =====
[info] Project [a#7]
[info] ===== src_z =====
[info] +- FileScan json [user_id#9] Location: InMemoryFileIndex(1 paths)[file:/tmp/graft_chatlog_fixture.jvm-31002-0d4e9a17/chat_logs], PartitionFilters: []
[info] ===== p_w =====
[info] +- FileScan parquet [doc_id#12345] Batched: true, DataFilters: [isnotnull(doc_id#12345), (pmod(cast(conv(substring(md5(cast(cast(doc_id#12345 as string) as..., Format: Parquet, PartitionFilters: [], PushedFilters: [IsNotNull(doc_id)]
"""


def write(tmp_path, name, text):
    p = tmp_path / name
    p.write_text(text)
    return str(p)


def test_run_specific_names_are_normalized(tmp_path, capsys):
    a, b = write(tmp_path, "a.log", RUN_A), write(tmp_path, "b.log", RUN_B)
    assert plan_diff.main(["plan_diff.py", a, b]) == 0
    assert capsys.readouterr().out.splitlines() == ["p_w: same", "q_x: same", "q_y: same", "src_z: same"]


def test_a_changed_operator_differs(tmp_path, capsys):
    changed = RUN_B.replace("Project [a#7]", "Filter isnotnull(a#7)")
    a, b = write(tmp_path, "a.log", RUN_A), write(tmp_path, "b.log", changed)
    assert plan_diff.main(["plan_diff.py", a, b]) == 1
    out = capsys.readouterr().out.splitlines()
    assert "q_x: same" in out and "q_y: differs" in out


def test_a_different_fixture_directory_differs(tmp_path, capsys):
    # only the per-JVM suffix is normalized, not the fixture it names
    moved = RUN_B.replace("graft_chatlog_fixture.jvm-31002-0d4e9a17", "other_fixture.jvm-31002-0d4e9a17")
    a, b = write(tmp_path, "a.log", RUN_A), write(tmp_path, "b.log", moved)
    assert plan_diff.main(["plan_diff.py", a, b]) == 1
    assert "src_z: differs" in capsys.readouterr().out.splitlines()


def test_a_changed_untruncated_filter_differs(tmp_path, capsys):
    # only the cut list is hidden; the pushed filters after it still count
    changed = RUN_B.replace("PushedFilters: [IsNotNull(doc_id)]", "PushedFilters: []")
    a, b = write(tmp_path, "a.log", RUN_A), write(tmp_path, "b.log", changed)
    assert plan_diff.main(["plan_diff.py", a, b]) == 1
    assert "p_w: differs" in capsys.readouterr().out.splitlines()
