"""tools/loc.py on a hand-written Scala fixture.

    python3 -m pytest tools/tests
"""
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

import loc  # noqa: E402

FIXTURE = """package x

/** Scaladoc: two lines,
  * the second starts with a star.
  */
object A {
  // a line comment
  val a = 1 // a trailing comment keeps the line code

  /* a block comment
     whose middle line has no star
  */
  def f(x: Int): Int =
    x * 2
  /* one-line block */
}
"""


def test_counts_fixture():
    # code: package, object, val, def, body, closing brace
    # comment: 3 scaladoc + 1 line + 3 block + 1 one-line block
    # blank: after package, after val
    assert loc.count_lines(FIXTURE.splitlines()) == {"code": 6, "comment": 8, "blank": 2}


def test_block_opened_by_a_comment_line_ends_at_its_close():
    lines = ["/* open", "still inside", "close */", "val b = 2"]
    assert loc.count_lines(lines) == {"code": 1, "comment": 3, "blank": 0}


def test_report_sums_files_per_path_and_total(tmp_path):
    d = tmp_path / "src"
    (d / "p").mkdir(parents=True)
    (d / "p" / "A.scala").write_text(FIXTURE)
    (d / "B.scala").write_text("val c = 3\n\n")
    (d / "notes.txt").write_text("ignored\n")
    out = subprocess.run([sys.executable, os.path.join(os.path.dirname(HERE), "loc.py"), str(d)],
                         check=True, capture_output=True, text=True).stdout
    rep = json.loads(out)
    assert len(rep["files"]) == 2
    assert rep["paths"][str(d)] == {"code": 7, "comment": 8, "blank": 3}
    assert rep["total"] == rep["paths"][str(d)]
