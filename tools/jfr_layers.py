#!/usr/bin/env python3
"""Driver-layer split of a JFR recording of a perfbench harness run.

    python3 tools/jfr_layers.py <rec.jfr | events.json>

Runs `jfr print --json --stack-depth 400 --events jdk.ExecutionSample` on
the recording (the default depth, 5, hides every graft frame), or reads
that command's output from a .json file, and prints:

- the client thread (`main`), from its first sample under
  `perfbench.Harness.request` on, so the set-ups and the correctness pass
  are left out: its samples by phase (construct: under `graft.SparkEntry`;
  execute: under `graft.Actions.materialize`; other: release and harness
  work) and by layer (`graft.Tables` and the schema inference inside it,
  `Analyzer.executeAndCheck`, Spark jobs started during construction, AQE);
- the executor task threads: their samples by category, the package of
  the innermost frame outside the JDK and the Scala library.

A sample counts toward every layer its stack passes through, so the layer
shares need not add up to 100 %. The perfbench trace splits wall time by
Spark job span; this splits client CPU by activity.
"""
import json
import re
import subprocess
import sys
from collections import Counter

CLIENT = "main"
REQUEST = ("perfbench.Harness", "request")
EXECUTOR = "Executor task launch worker"
STACK_DEPTH = 400
LIBRARY = ("java.", "javax.", "jdk.", "sun.", "scala.")
CODEGEN = "org.apache.spark.sql.catalyst.expressions.GeneratedClass"


def owner(cls):
    """`graft.SparkEntry$$$Lambda/0x..` and `graft.SparkEntry$` -> `graft.SparkEntry`."""
    return cls.replace("/", ".").split("$")[0]


def frame(f):
    m = f["method"]
    return owner(m["type"]["name"]), m["name"]


def iter_events(stream, chunk=1 << 20):
    """Yield the objects of the top-level `events` array one at a time, so a
    recording's JSON (hundreds of MB) is never held whole."""
    dec = json.JSONDecoder()
    skip = re.compile(r"[\s,]*")
    buf, pos, eof = "", None, False

    def more():
        nonlocal buf, eof
        s = stream.read(chunk)
        eof = not s
        buf += s

    while pos is None:
        m = re.search(r'"events"\s*:\s*\[', buf)
        if m:
            pos = m.end()
        elif eof:
            return
        else:
            more()
    while True:
        pos = skip.match(buf, pos).end()
        if pos == len(buf):
            if eof:
                return
            more()
            continue
        if buf[pos] == "]":
            return
        try:
            obj, end = dec.raw_decode(buf, pos)
        except json.JSONDecodeError:
            if eof:
                raise
            more()
            continue
        yield obj
        buf, pos = buf[end:], 0


def samples(events):
    """(thread, start time, [(class, method)] innermost first, truncated)."""
    for e in events:
        if e.get("type", "jdk.ExecutionSample") != "jdk.ExecutionSample":
            continue
        v = e["values"]
        st = v.get("stackTrace") or {"frames": [], "truncated": False}
        t = v["sampledThread"]
        yield (t.get("javaName") or t.get("osName"), v["startTime"],
               [frame(f) for f in st["frames"]], bool(st.get("truncated")))


def summarize(events):
    client, executor = [], Counter()
    for thread, start, frames, truncated in samples(events):
        if thread == CLIENT:
            client.append((start, frames, truncated))
        elif thread and thread.startswith(EXECUTOR):
            executor[category(frames)] += 1
    client.sort(key=lambda s: s[0])
    first = next((i for i, (_, fs, _) in enumerate(client) if REQUEST in fs), len(client))
    client = client[first:]

    phases, layers, truncated_stacks = Counter(), Counter(), 0
    for _, fs, truncated in client:
        owners = {c for c, _ in fs}
        keys = {f"{c}.{m}" for c, m in fs}
        if "graft.SparkEntry" in owners:
            phase = "construct"
        elif "graft.Actions.materialize" in keys:
            phase = "execute"
        else:
            phase = "other"
        phases[phase] += 1
        truncated_stacks += truncated
        if "graft.Tables" in owners:
            layers["graft.Tables"] += 1
            if any(m == "inferSchema" for _, m in fs):
                layers["graft.Tables inferSchema"] += 1
        if "org.apache.spark.sql.catalyst.analysis.Analyzer.executeAndCheck" in keys:
            layers["Analyzer.executeAndCheck"] += 1
        if phase == "construct" and any(c == "org.apache.spark.sql.execution.SQLExecution"
                                         and m.startswith("withNewExecutionId") for c, m in fs):
            layers["construction jobs (SQLExecution.withNewExecutionId)"] += 1
        if any(c.startswith("org.apache.spark.sql.execution.adaptive.") for c in owners):
            layers["AQE (sql.execution.adaptive)"] += 1
    return {"client_samples": len(client), "truncated": truncated_stacks,
            "phases": dict(phases), "layers": dict(layers),
            "executor_samples": sum(executor.values()), "executor": dict(executor)}


def category(frames):
    for c, _ in frames:
        if c.startswith(CODEGEN):
            return "generated code"
        if not c.startswith(LIBRARY):
            return c.rsplit(".", 1)[0]
    return "JDK / Scala library"


def report(s, top=8):
    def line(name, n, total):
        return f"  {name:<56} {n:>6} {100.0 * n / total if total else 0.0:6.1f} %"

    n = s["client_samples"]
    out = [f"client thread {CLIENT!r}: {n} samples from the first under {'.'.join(REQUEST)}"
           f" ({s['truncated']} with a truncated stack)", " phase"]
    out += [line(p, s["phases"].get(p, 0), n) for p in ("construct", "execute", "other")]
    out.append(" layer (a sample counts toward every layer on its stack)")
    out += [line(k, s["layers"].get(k, 0), n) for k in (
        "graft.Tables", "graft.Tables inferSchema", "Analyzer.executeAndCheck",
        "construction jobs (SQLExecution.withNewExecutionId)", "AQE (sql.execution.adaptive)")]
    m = s["executor_samples"]
    out.append(f"executor task threads: {m} samples, top categories")
    out += [line(k, v, m) for k, v in sorted(s["executor"].items(), key=lambda kv: (-kv[1], kv[0]))[:top]]
    return "\n".join(out)


def main(argv):
    if len(argv) != 2:
        sys.exit(__doc__.split("\n\n")[1])
    path = argv[1]
    if path.endswith(".json"):
        with open(path) as f:
            s = summarize(iter_events(f))
    else:
        cmd = ["jfr", "print", "--json", "--stack-depth", str(STACK_DEPTH),
               "--events", "jdk.ExecutionSample", path]
        with subprocess.Popen(cmd, stdout=subprocess.PIPE, text=True) as p:
            s = summarize(iter_events(p.stdout))
        if p.returncode:
            sys.exit(f"{' '.join(cmd)} exited {p.returncode}")
    print(report(s))


if __name__ == "__main__":
    main(sys.argv)
