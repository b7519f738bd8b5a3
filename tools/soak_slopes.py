#!/usr/bin/env python3
"""One-command scaling-slope measurement (SURVEY §10 item: re-measure the
three-point scaling record in future rounds).

Generates factor-10 and factor-30 soak corpora with SoakGen (unless they
already exist), runs graft.Bench at sf0.1 / x10 / x30, fits per-query
least-squares log-log slopes over x = 1, 10, 30, and writes
`target/soak/soak_slopes.json` (beside the corpora) + a markdown summary
to stdout.

Usage: tools/soak_slopes.py [--skip QUERIES] [--fresh] [--only QUERIES]
  --skip  comma list excluded from the x30 run only (default: the five
          kNN-join/graph variants, which share the exact blocked pair
          join that goes quadratic on the fixed-label soak corpus and
          whose x30 cost is
          ~20 min for slopes already measured at x10; skipped queries
          still get a TWO-POINT x1/x10 slope in the output, flagged
          `two_point`, so nothing is silently omitted)
  --fresh regenerate corpora and rerun everything even if files exist
  --only  re-measure only these queries and merge their rows into the
          existing output, keeping every row not measured
"""
import json, math, os, subprocess, sys, argparse

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SF01 = "/root/testdata/sf0.1"
CORPORA = [("x10", "target/soak/sf1", 10), ("x30", "target/soak/sf3", 30)]
DEFAULT_SKIP = "v_knn_join,v_knn_join_mp,v_knn_join_mph,v_knn_join_geo,v_knn_join_incremental"
OUT = os.path.join("target", "soak", "soak_slopes.json")


def run(cmd, env=None, log=None):
    e = dict(os.environ)
    if env:
        e.update(env)
    print(f"[slopes] {' '.join(cmd)}" + (f" (env {env})" if env else ""), flush=True)
    with open(log, "w") if log else open(os.devnull, "w") as out:
        subprocess.run(cmd, cwd=REPO, env=e, stdout=out, stderr=subprocess.STDOUT, check=True)


def bench(sf_dir, tag, only=None):
    """Run graft.Bench over `sf_dir` into its own output directory
    (target/soak/bench_<tag>) and return the detail record it wrote."""
    env = {"SPARK_GRAFT_SF_DIR": sf_dir}
    if only:
        env["SPARK_GRAFT_ONLY"] = only
    out = os.path.join(REPO, "target", "soak", f"bench_{tag}")
    run(["sbt", "-batch", f"runMain graft.Bench {out}"], env=env, log=f"/tmp/slopes_bench_{tag}.log")
    with open(os.path.join(out, "bench_detail.json")) as f:
        d = json.load(f)
    if d.get("failed"):
        sys.exit(f"[slopes] bench at {sf_dir} had failures: {d['failed']}")
    return d


def main(argv=None):
    ap = argparse.ArgumentParser()
    ap.add_argument("--skip", default=DEFAULT_SKIP)
    ap.add_argument("--fresh", action="store_true")
    ap.add_argument("--only", default=None,
                    help="comma list: re-measure ONLY these queries at x1/x10/x30 and "
                         "merge their rows into the existing soak_slopes.json (for "
                         "refreshing a family whose kernel changed without re-running "
                         "the full soak)")
    a = ap.parse_args(argv)
    skip = set(filter(None, a.skip.split(",")))

    for _, out, factor in CORPORA:
        if a.fresh or not os.path.exists(os.path.join(REPO, out, "documents.parquet")):
            run(["sbt", "-batch", f"runMain graft.SoakGen {SF01} {out} {factor}"],
                log=f"/tmp/slopes_gen_{factor}.log")

    d1 = bench(SF01, "x1", only=a.only)
    d10 = bench(os.path.join(REPO, CORPORA[0][1]), "x10", only=a.only)
    only30 = ",".join(sorted(q for q in d1["queries"] if q not in skip))
    d30 = bench(os.path.join(REPO, CORPORA[1][1]), "x30", only=only30)

    xs = [math.log(1), math.log(10), math.log(30)]

    def slope(ys):
        ys = [math.log(max(y, 1e-3)) for y in ys]
        n, sx, sy = 3, sum(xs), sum(ys)
        sxx = sum(x * x for x in xs)
        sxy = sum(x * y for x, y in zip(xs, ys))
        return (n * sxy - sx * sy) / (n * sxx - sx * sx)

    def slope2(y1, y10):
        return (math.log(max(y10, 1e-3)) - math.log(max(y1, 1e-3))) / math.log(10)

    out = {"skipped_at_x30": sorted(skip), "queries": {}}
    for k in sorted(d30["queries"]):
        w = [d1["queries"][k], d10["queries"][k], d30["queries"][k]]
        c = [d1["cpu_ms"][k] / 1000, d10["cpu_ms"][k] / 1000, d30["cpu_ms"][k] / 1000]
        out["queries"][k] = {
            "wall_s": [round(v, 3) for v in w], "wall_slope": round(slope(w), 2),
            "cpu_s": [round(v, 1) for v in c], "cpu_slope": round(slope(c), 2)}
    # skipped queries: two-point x1/x10 slope, flagged — never omitted
    for k in sorted(skip & set(d1["queries"]) & set(d10["queries"])):
        w = [d1["queries"][k], d10["queries"][k]]
        c = [d1["cpu_ms"][k] / 1000, d10["cpu_ms"][k] / 1000]
        out["queries"][k] = {
            "wall_s": [round(v, 3) for v in w], "wall_slope": round(slope2(*w), 2),
            "cpu_s": [round(v, 1) for v in c], "cpu_slope": round(slope2(*c), 2),
            "two_point": True}
    path = os.path.join(REPO, OUT)
    if a.only and os.path.exists(path):
        # targeted refresh: replace only the measured rows, keep the rest
        with open(path) as f:
            prev = json.load(f)
        prev.setdefault("queries", {}).update(out["queries"])
        out = prev
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as f:
        json.dump(out, f, indent=1)

    rows = sorted(out["queries"].items(), key=lambda kv: -kv[1]["wall_slope"])
    le1 = sum(1 for _, v in rows if v["wall_slope"] <= 1.05)
    print(f"\n[slopes] {le1}/{len(rows)} wall slopes <= 1.05; "
          f"skipped at x30: {sorted(skip)}")
    print(f"{'query':34s} {'wall x1/x10/x30':>22s} {'slopeW':>7s} {'slopeC':>7s}")
    for k, v in rows[:15]:
        w = "/".join(f"{x:.2f}" for x in v["wall_s"])
        print(f"{k:34s} {w:>22s} {v['wall_slope']:7.2f} {v['cpu_slope']:7.2f}")
    print(f"[slopes] full table: {OUT}")


if __name__ == "__main__":
    main()
