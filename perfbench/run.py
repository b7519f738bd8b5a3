#!/usr/bin/env python3
"""graft benchmark: one closed-loop run of one workload.

    python3 perfbench/run.py --workload dashboard --seed 1 --seconds 10 --trace 0

Run from the repository root. The first run builds graft plus the harness
in perfbench/scala with sbt (offline), copying the classes to
$CARGO_TARGET_DIR (default .bench_build) and caching the classpath there;
later runs start the JVM directly.

One run: the harness (perfbench.Harness) builds a session with graft.Bench's
conf at local[nproc], warms it up three times (set-up), then sends the
workload's registry keys one request at a time, a fresh seeded permutation
per pass, until --seconds have elapsed. Every distinct key is then checked
against DuckDB running SparkEntry.oracleSql on the same tables, with
check.py's rules; the rows-only keys are checked on row count.

The last stdout line is one JSON object: correct, attempted, failed, and the
end-to-end metrics (--trace 0) or the per-layer metrics (--trace 1). The line
before it is the full report: every metric, the p90 sample count, error_rate,
nproc, heap, conf, seed and sf. Each run's report is also kept under
$CARGO_TARGET_DIR/results for compare.py.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

import summarize

BENCH = os.path.dirname(os.path.abspath(__file__))
SF_DIR = os.path.join(BENCH, "data", "sf0.01")
HEAP = "3g"
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 840
SOURCES = ["build.sbt", "project/build.properties", "src/main", "perfbench/scala"]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(1)


def source_stamp(root):
    """Hash of the checkout's root path and every source file the build reads."""
    h = hashlib.sha256(os.path.abspath(root).encode())
    for top in SOURCES:
        path = os.path.join(root, top)
        files = [path] if os.path.isfile(path) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(path) for f in fs)
        for f in files:
            h.update(os.path.relpath(f, root).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def cached_build(cache, stamp, classes):
    """The cached (classpath, jvm opts) if it was built from this source state
    and every classpath entry, the harness included, is still there."""
    if not os.path.exists(cache):
        return None
    with open(cache) as f:
        cached = json.load(f)
    if cached["stamp"] != stamp or not os.path.exists(os.path.join(classes, "perfbench", "Harness.class")):
        return None
    if not all(os.path.exists(e) for e in cached["classpath"].split(os.pathsep)):
        return None
    return cached["classpath"], cached["java_options"]


def build(root, build_dir):
    """Compile graft + harness once per source state; return (classpath, jvm opts).

    sbt compiles into the checkout's target/; the classes are then copied to
    $CARGO_TARGET_DIR/classes and the classpath points there, so a later sbt
    command in the checkout (which drops the harness's classes, as its
    sources are not in the build) cannot break the cached classpath."""
    stamp = source_stamp(root)
    cache = os.path.join(build_dir, "classpath.json")
    classes = os.path.join(build_dir, "classes")
    hit = cached_build(cache, stamp, classes)
    if hit:
        return hit
    opts = ["-Dsbt.override.build.repos=true", "-Dsbt.offline=true", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts.append(f"-Dsbt.repository.config={repos}")
    env = dict(os.environ, COURSIER_MODE="offline", SBT_OPTS=" ".join(opts))
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true",
           'set Compile / unmanagedSourceDirectories += baseDirectory.value / "perfbench" / "scala"',
           "compile", "export Runtime/fullClasspath", "show javaOptions"]
    os.makedirs(build_dir, exist_ok=True)
    with open(os.path.join(build_dir, "build.log"), "w+") as log:
        code = run_child(cmd, log, BUILD_TIMEOUT_S, cwd=root, env=env)
        log.seek(0)
        lines = log.read().splitlines()
    cp = [l for l in lines if "target/scala-" in l and not l.startswith("[")]
    if code != 0 or len(cp) != 1:
        fail("build failed:\n" + "\n".join(l[:300] for l in lines[-40:]))
    entries = cp[0].split(os.pathsep)
    target = [e for e in entries if os.path.abspath(e).startswith(os.path.abspath(root) + os.sep)]
    if len(target) != 1 or not os.path.exists(os.path.join(target[0], "perfbench", "Harness.class")):
        fail(f"build left no harness classes in the checkout: {target}")
    shutil.rmtree(classes, ignore_errors=True)
    shutil.copytree(target[0], classes)
    classpath = os.pathsep.join(classes if e == target[0] else e for e in entries)
    # the benchmark sets its own heap; every other option is the repo's run conf
    java_options = [l[len("[info] * "):] for l in lines if l.startswith("[info] * ")]
    java_options = [o for o in java_options if not o.startswith("-Xmx")]
    with open(cache, "w") as f:
        json.dump({"stamp": stamp, "classpath": classpath, "java_options": java_options}, f)
    return classpath, java_options


def run_child(cmd, log, timeout, **kw):
    """Run `cmd` in its own process group with output to `log`; return its exit
    code. The group is killed and reaped on timeout, on an error and on
    SIGTERM, so no sbt, JVM or checker outlives the run."""
    child = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL,
                             start_new_session=True, **kw)
    try:
        return child.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        fail(f"{cmd[0]} did not finish within {timeout} s; log: {log.name}")
    finally:
        if child.poll() is None:
            os.killpg(child.pid, signal.SIGKILL)
            child.wait()


def oracle_check(root, check_dir, dumped, work):
    """Return ({key: None | failure} for every dumped key, keys with no oracle SQL)."""
    verdict = {k: err for k, err in dumped.items()}
    env = dict(os.environ, GRAFT_DUCK_MEM="2GB", GRAFT_DUCK_TMP=os.path.join(work, "ducktmp"))
    with open(os.path.join(work, "check.log"), "w+") as log:
        code = run_child([sys.executable, os.path.join(root, "check.py"), SF_DIR, check_dir],
                         log, 120, cwd=root, env=env)
        log.seek(0)
        out = log.read()
    seen = set()
    for line in out.splitlines():
        if line.startswith("PASS "):
            seen.add(line.split()[1])
        elif line.startswith("FAIL "):
            key, _, msg = line[5:].partition(": ")
            seen.add(key)
            verdict[key] = verdict[key] or msg
    with open(os.path.join(check_dir, "oracle_sql.json")) as f:
        exact = json.load(f)
    for key in exact:
        if key not in seen:
            verdict[key] = verdict[key] or f"check.py gave no verdict (exit {code})"
    with open(os.path.join(check_dir, "rows_only_sql.json")) as f:
        rows_only = json.load(f)
    # Three engine-specific keys register no oracle SQL at all (the gate
    # records them as no_oracle); for those the check is a non-empty result.
    no_oracle = sorted(k for k in dumped if k not in exact and k not in rows_only)
    import duckdb
    con = duckdb.connect()
    for t in ["region", "nation", "customer", "supplier", "part", "orders", "lineitem",
              "events", "documents", "embeddings"]:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'")
    for key in list(rows_only) + no_oracle:
        if verdict[key]:
            continue
        try:
            got = con.sql(f"SELECT count(*) FROM '{check_dir}/{key}/*.parquet'").fetchone()[0]
            if key in rows_only:
                want = con.sql(f"SELECT count(*) FROM ({rows_only[key]})").fetchone()[0]
                if want != got:
                    verdict[key] = f"rows: spark={got} oracle={want}"
            elif got == 0:
                verdict[key] = "no oracle SQL and an empty result"
        except Exception as e:  # an oracle error is the key's failure
            verdict[key] = f"row-count check error: {e}"
    return verdict, no_oracle


def main():
    # SIGTERM unwinds like an error, so run_child kills the child's group
    signal.signal(signal.SIGTERM, lambda *_: fail("terminated"))
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[1])
    ap.add_argument("--workload", required=True, choices=["dashboard", "incremental"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--sf-dir", default=None, help="tables to run on (default: the sf0.01 copy)")
    a = ap.parse_args()

    root = os.getcwd()
    if not all(os.path.exists(os.path.join(root, s)) for s in SOURCES + ["check.py", "BENCHMARK.json"]):
        fail("run from the root of a graft checkout (build.sbt, src/main, check.py, BENCHMARK.json)")
    global SF_DIR
    SF_DIR = os.path.abspath(a.sf_dir or SF_DIR)
    build_dir = os.path.abspath(os.environ.get("CARGO_TARGET_DIR") or ".bench_build")
    classpath, java_options = build(root, build_dir)

    run_id = f"{a.workload}-s{a.seed}-t{a.trace}-{time.strftime('%Y%m%dT%H%M%S')}-{os.getpid()}"
    results = os.path.join(build_dir, "results")
    work = os.path.join(build_dir, "runs", run_id)
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    os.makedirs(results, exist_ok=True)
    out = os.path.join(results, run_id + ".harness.json")
    cmd = ["java", *java_options, f"-Xms{HEAP}", f"-Xmx{HEAP}", f"-Djava.io.tmpdir={work}/tmp",
           "-cp", classpath, "perfbench.Harness", a.workload, str(a.seed), str(a.seconds),
           str(a.trace), SF_DIR, work, out]
    try:
        with open(os.path.join(results, run_id + ".log"), "w") as log:
            code = run_child(cmd, log, RUN_TIMEOUT_S - 20)
        if code != 0:
            fail(f"harness exited {code}; log: {log.name}")
        with open(out) as f:
            h = json.load(f)
        verdict, no_oracle = oracle_check(root, h["check_dir"], h["check"], work)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    report = summarize.end_to_end(h, verdict)
    report["no_oracle_keys"] = no_oracle
    report["harness_json"] = out
    if a.trace:
        layers, per_key, overhead = summarize.trace(h)
        report["per_layer"] = layers
        report["trace_overhead_s"] = overhead
        with open(os.path.join(results, run_id + ".per_key.json"), "w") as f:
            json.dump(per_key, f, indent=1, sort_keys=True)
    with open(os.path.join(results, run_id + ".json"), "w") as f:
        json.dump(report, f, indent=1, sort_keys=True)
    print(json.dumps(report, sort_keys=True))

    # the result line carries exactly the metrics BENCHMARK.json declares
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        declared = json.load(f)["per_layer" if a.trace else "end_to_end"]
    metrics = report["per_layer"] if a.trace else report["end_to_end"]
    missing = [m["name"] for m in declared if metrics.get(m["name"], {}).get("value") is None]
    if missing:
        fail(f"run produced no value for {', '.join(missing)}")
    print(json.dumps({"correct": report["correct"], "attempted": report["attempted"],
                      "failed": report["failed"], "metrics": {
                          m["name"]: {"value": metrics[m["name"]]["value"], "unit": m["unit"]}
                          for m in declared}}))


if __name__ == "__main__":
    main()
