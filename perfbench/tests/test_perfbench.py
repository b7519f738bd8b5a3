"""Tests of the benchmark's own arithmetic, plus an sf0.001 smoke run per workload.

    python3 -m pytest perfbench/tests              # from the repository root

The smoke runs build graft like a benchmark run does and take a few minutes.
"""
import json
import os
import subprocess
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)

import compare  # noqa: E402
import run  # noqa: E402
import stats  # noqa: E402
import summarize  # noqa: E402


class PercentileTest(unittest.TestCase):
    def test_p90_needs_ten_samples_beyond_it(self):
        self.assertEqual(stats.percentile(list(range(1, 101)), 90), 90)
        self.assertIsNone(stats.percentile(list(range(1, 100)), 90))
        self.assertIsNone(stats.percentile([], 50))

    def test_nearest_rank_is_order_free(self):
        xs = [5.0, 1.0, 4.0, 2.0, 3.0] * 4
        self.assertEqual(stats.percentile(xs, 50), 3.0)
        self.assertEqual(stats.percentile(list(reversed(xs)), 50), 3.0)

    def test_quartiles_match_statistics_quantiles(self):
        q1, q2, q3 = stats.quartiles([1, 2, 3, 4, 5, 6, 7, 8, 9, 10])
        self.assertEqual((q1, q2, q3), (2.75, 5.5, 8.25))


def span(i, parent, start, end):
    return {"id": i, "parent": parent, "start": start, "end": end}


class SelfTimeTest(unittest.TestCase):
    def test_overlapping_children_share_the_overlap(self):
        own = stats.shared_self_times([
            span(1, 0, 0, 10), span(2, 1, 1, 5), span(3, 1, 3, 8)])
        # [3, 5] is open in both children: one second to each
        self.assertAlmostEqual(own[2], 2 + 1)
        self.assertAlmostEqual(own[3], 1 + 3)
        self.assertAlmostEqual(own[1], 1 + 2)
        self.assertAlmostEqual(sum(own.values()), 10)

    def test_grandchildren_inherit_the_share(self):
        own = stats.shared_self_times([
            span(1, 0, 0, 10), span(2, 1, 0, 10), span(3, 1, 0, 10), span(4, 2, 0, 4)])
        self.assertAlmostEqual(own[4], 2)  # half of [0, 4]
        self.assertAlmostEqual(own[2], 3)  # half of [4, 10]
        self.assertAlmostEqual(own[3], 5)
        self.assertAlmostEqual(own[1], 0)
        self.assertAlmostEqual(sum(own.values()), 10)

    def test_children_are_clipped_to_their_parent(self):
        own = stats.shared_self_times([span(1, 0, 0, 4), span(2, 1, 2, 9), span(3, 0, 20, 21)])
        self.assertAlmostEqual(own[2], 2)
        self.assertAlmostEqual(own[1], 2)
        self.assertAlmostEqual(own[3], 1)


    def test_union_counts_overlap_once(self):
        self.assertAlmostEqual(stats.union_length([(0, 2), (1, 3), (5, 6)]), 4)
        self.assertAlmostEqual(stats.union_length([(0, 10), (2, 3)]), 10)


class CallSiteTest(unittest.TestCase):
    def test_call_site_to_layer_file(self):
        self.assertEqual(summarize.site_file("parquet at Tables.scala:14"), "Tables")
        self.assertEqual(summarize.site_file("count at Caches.scala:66"), "Caches")
        self.assertEqual(summarize.site_file("save at Actions.scala:18"), "Actions")
        self.assertEqual(summarize.site_file("run at ThreadPoolExecutor.java:1136"), "ThreadPoolExecutor")
        self.assertEqual(summarize.site_file("broadcast exchange (runId 3)"), "")


class CompareTest(unittest.TestCase):
    def test_verdicts(self):
        base = [10.0, 10.2, 9.9, 10.1, 10.0, 10.3, 9.8, 10.1, 10.0, 10.2]
        self.assertEqual(compare.verdict(base, [x * 0.8 for x in base], "lower", 0.1)["verdict"], "better")
        self.assertEqual(compare.verdict(base, [x * 1.2 for x in base], "lower", 0.1)["verdict"], "worse")
        self.assertEqual(compare.verdict(base, list(base), "lower", 0.1)["verdict"], "same")
        noisy = [5.0, 15.0] * 5
        self.assertEqual(compare.verdict(base, noisy, "lower", 0.1)["verdict"], "unresolved")


class BuildCacheTest(unittest.TestCase):
    def test_cached_classpath_needs_every_entry_and_the_harness(self):
        with tempfile.TemporaryDirectory() as d:
            classes, jar = os.path.join(d, "classes"), os.path.join(d, "lib.jar")
            os.makedirs(os.path.join(classes, "perfbench"))
            open(jar, "w").close()
            cache = os.path.join(d, "classpath.json")
            with open(cache, "w") as f:
                json.dump({"stamp": "s1", "classpath": classes + os.pathsep + jar, "java_options": []}, f)
            self.assertIsNone(run.cached_build(cache, "s1", classes))  # no harness class
            open(os.path.join(classes, "perfbench", "Harness.class"), "w").close()
            self.assertEqual(run.cached_build(cache, "s1", classes), (classes + os.pathsep + jar, []))
            self.assertIsNone(run.cached_build(cache, "s2", classes))  # sources changed
            os.remove(jar)
            self.assertIsNone(run.cached_build(cache, "s1", classes))

    def test_stamp_names_the_checkout(self):
        with tempfile.TemporaryDirectory() as d:
            a, b = os.path.join(d, "a"), os.path.join(d, "b")
            for root in (a, b):
                os.makedirs(os.path.join(root, "src", "main"))
                os.makedirs(os.path.join(root, "perfbench", "scala"))
                os.makedirs(os.path.join(root, "project"))
                for f in ("build.sbt", "project/build.properties"):
                    with open(os.path.join(root, f), "w") as fh:
                        fh.write("x")
            self.assertNotEqual(run.source_stamp(a), run.source_stamp(b))


def run_bench(workload, seed, trace):
    p = subprocess.run(
        [sys.executable, os.path.join(BENCH, "run.py"), "--workload", workload, "--seed", str(seed),
         "--seconds", "1", "--trace", str(trace), "--sf-dir", os.path.join(BENCH, "data", "sf0.001")],
        cwd=ROOT, capture_output=True, text=True, timeout=900)
    if p.returncode != 0:
        raise AssertionError(p.stderr[-3000:])
    lines = p.stdout.strip().splitlines()
    return json.loads(lines[-2]), json.loads(lines[-1])


class SmokeTest(unittest.TestCase):
    """An sf0.001 run of each workload prints every declared metric by name."""

    @classmethod
    def setUpClass(cls):
        with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
            cls.bench = json.load(f)

    def check_workload(self, workload):
        report, line = run_bench(workload, 1, 1)
        self.assertEqual(set(line), {"correct", "attempted", "failed", "metrics"})
        self.assertEqual(set(line["metrics"]), {m["name"] for m in self.bench["per_layer"]})
        self.assertEqual(set(report["end_to_end"]), set(summarize.END_TO_END_UNITS))
        self.assertIn("samples", report["end_to_end"]["query_p90_s"])
        for k in ("nproc", "heap_mb", "conf", "seed", "sf"):
            self.assertIn(k, report)
        self.assertIsNotNone(report["trace_overhead_s"])
        self.assertAlmostEqual(report["per_layer"]["trace.unaccounted_s"]["value"], 0, places=3)
        return report

    def test_dashboard(self):
        self.check_workload("dashboard")

    def test_incremental_and_seeded_order(self):
        traced = self.check_workload("incremental")
        report, line = run_bench("incremental", 2, 0)
        self.assertEqual(set(line["metrics"]), {m["name"] for m in self.bench["end_to_end"]})
        orders = []
        for r in (traced, report):
            with open(r["harness_json"]) as f:
                orders.append([q["key"] for q in json.load(f)["requests"] if q["pass"] == 0])
        self.assertEqual(sorted(orders[0]), sorted(orders[1]))
        self.assertNotEqual(orders[0], orders[1])


if __name__ == "__main__":
    unittest.main()
