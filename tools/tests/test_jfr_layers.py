"""tools/jfr_layers.py on a hand-written `jfr print --json` fixture.

    python3 -m pytest tools/tests
"""
import io
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

import jfr_layers  # noqa: E402

FIXTURE = os.path.join(HERE, "jfr_fixture.json")


def summary(chunk=1 << 20):
    with open(FIXTURE) as f:
        return jfr_layers.summarize(jfr_layers.iter_events(f, chunk))


def test_client_samples_start_at_the_first_request():
    # the warm-up sample (earliest, but second in the file) is dropped
    s = summary()
    assert s["client_samples"] == 5
    assert s["truncated"] == 1


def test_phases():
    assert summary()["phases"] == {"construct": 3, "execute": 1, "other": 1}


def test_layers():
    assert summary()["layers"] == {
        "graft.Tables": 1,
        "graft.Tables inferSchema": 1,
        "Analyzer.executeAndCheck": 1,
        # the execute-phase SQL execution is not a construction job
        "construction jobs (SQLExecution.withNewExecutionId)": 1,
        "AQE (sql.execution.adaptive)": 1,
    }


def test_executor_categories():
    s = summary()
    assert s["executor_samples"] == 3
    assert s["executor"] == {"generated code": 1, "graft.functions": 1, "JDK / Scala library": 1}


def test_streaming_parse_does_not_depend_on_chunk_size():
    assert summary(chunk=7) == summary()


def test_empty_recording():
    s = jfr_layers.summarize(jfr_layers.iter_events(io.StringIO('{"recording": {"events": []}}')))
    assert s["client_samples"] == 0 and s["executor_samples"] == 0


def test_cli_report():
    out = subprocess.run([sys.executable, os.path.join(os.path.dirname(HERE), "jfr_layers.py"), FIXTURE],
                         check=True, capture_output=True, text=True).stdout
    lines = [l.split() for l in out.splitlines()]
    assert ["graft.Tables", "1", "20.0", "%"] in lines
    assert ["construct", "3", "60.0", "%"] in lines
    assert ["generated", "code", "1", "33.3", "%"] in lines
