package graft

/** Benchmark main: times every SparkEntry query at the given scale factor
  * and prints ONE JSON line. A warmup action first absorbs session
  * initialization (parquet footer reads, codegen compilation, JIT) so the
  * per-query numbers measure the plans, not JVM startup.
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = Actions.cpus()
    // SPARK_GRAFT_ONLY=q1,q2 restricts the run (iteration aid; the driver
    // never sets it, so the recorded bench always covers the full suite)
    val selected = Actions.selected(sys.env.get("SPARK_GRAFT_ONLY"))
    val spark = Actions.session(cpus)
    Actions.warmup(spark, sfDir)
    // SEEDED-shuffled run order: three rounds of alphabetical ordering let
    // environmental spikes land on adjacent family blocks and read as
    // family regressions (r5 k-means block, r6 q_-block). A deterministic
    // shuffle decorrelates position from family while keeping runs
    // reproducible.
    val ordered = new scala.util.Random(1L).shuffle(selected.toSeq.sortBy(_._1))
    // best-of-2 per query with the reps BACK-TO-BACK: rep 2 reuses rep 1's
    // generated classes (the codegen cache holds ~100 plans — separate full
    // passes would evict them between reps and re-measure compilation, which
    // at real scale is noise, not plan cost). Caches cleared between queries
    // so one query's pinned relations never skew the next one's memory budget.
    val counter = new JobCounter(spark.sparkContext)
    val results = ordered.map { case (name, fn) =>
      val reps = (1 to 2).map { _ =>
        Actions.reset(spark)
        val before = counter.snapshot()
        val t0 = System.nanoTime()
        // a crashed query records -1, never its elapsed-to-crash time — a
        // fake fail-fast 0.06s must not be able to read as a speedup.
        // Full materialization (noop sink), NOT count(): a count lets
        // ColumnPruning strip every deterministic projection, timing
        // map-only operators as bare scans (see Actions.materialize).
        val ok = try { Actions.materialize(fn(spark, sfDir)); true } catch { case e: Throwable =>
          System.err.println(s"[bench] $name FAILED: ${e.getMessage}"); false
        }
        ((if (ok) (System.nanoTime() - t0) / 1e9 else -1.0), counter.snapshot() - before)
      }
      // jobs/stages + executor run/CPU time from rep 2 when it succeeded
      // (steady state, codegen cache warm), else from the successful rep —
      // a crashed rep's PARTIAL telemetry must never be paired with the
      // other rep's valid wall time (it reads as a plan-cost change)
      val okReps = reps.filter(_._1 >= 0)
      val delta = if (reps(1)._1 >= 0) reps(1)._2
        else okReps.headOption.map(_._2).getOrElse(reps(1)._2)
      // best of the SUCCESSFUL reps — one transient crash must not discard
      // the other rep's valid measurement; -1 only when every rep failed
      (name, if (okReps.nonEmpty) okReps.map(_._1).min else -1.0, delta)
    }
    // The driver's artifact keeps only a ~2,000-char stdout TAIL, and the
    // full 116-entry per-query map does not fit. So: per-query detail
    // (timings + jobs/stages telemetry + failures) goes to
    // bench_detail.json, and the LAST stdout line is a short total-only
    // contract line that always fits the tail buffer.
    def f3(v: Double): String = Actions.fmt(v, 3) // Locale.ROOT — see Actions.fmt
    def jmap(f: ((String, Double, JobCounter.Snapshot)) => String): String =
      results.map(r => "\"" + r._1 + "\":" + f(r)).mkString("{", ",", "}")
    val qs = jmap { case (_, v, _) => f3(v) }
    val js = jmap { case (_, _, d) => d.jobs.toString }
    val ss = jmap { case (_, _, d) => d.stages.toString }
    val rs = jmap { case (_, _, d) => d.runMs.toString }
    val cs = jmap { case (_, _, d) => d.cpuMs.toString }
    val failed = results.collect { case (k, v, _) if v < 0 => k }
    val fs = failed.map("\"" + _ + "\"").mkString("[", ",", "]")
    val total = results.map(_._2).filter(_ >= 0).sum
    // a round with ANY crashed query has no comparable total: the sum
    // covers fewer queries, so a naive round-over-round diff would read the
    // crash as a speedup. value is null in that case; the partial sum stays
    // available as partial_total for triage.
    val totalJson = if (failed.isEmpty) f3(total) else "null"
    val detail =
      s"""{"metric":"total","value":$totalJson,"partial_total":${f3(total)},"unit":"sec","queries":$qs,"jobs":$js,"stages":$ss,"run_ms":$rs,"cpu_ms":$cs,"failed":$fs,"sf":"$sfDir","cpus":"$cpus"}"""
    // a failed write must be LOUD: the stdout line points at this file and
    // a stale detail map from a previous run would silently mis-triage.
    // The detail is ALSO written cpus-suffixed: the driver benches the suite
    // at two core counts back-to-back and the second run used to OVERWRITE
    // bench_detail.json, losing the per-query map the round comparison needs
    // (PERF_r11 got n_common=0 for exactly this reason). The un-suffixed
    // file stays the stdout contract's pointer.
    Seq("bench_detail.json", s"bench_detail_c$cpus.json").foreach { f =>
      try java.nio.file.Files.write(
        java.nio.file.Paths.get(f), (detail + "\n").getBytes("UTF-8"))
      catch { case e: Throwable =>
        System.err.println(s"[bench] FAILED to write $f: ${e.getMessage}")
      }
    }
    if (failed.nonEmpty)
      System.err.println(s"[bench] ${failed.size}/${results.size} queries FAILED: ${failed.mkString(", ")}")
    // suite-level executor telemetry rides the stdout contract line so a
    // round's stable CPU metrics survive even if the detail files are lost
    // or overwritten (the wall total alone cannot distinguish a noisy
    // measurement window from a plan regression — cpu_ms can).
    val cpuTotal = results.map(_._3.cpuMs).sum
    val runTotal = results.map(_._3.runMs).sum
    val line =
      s"""{"metric":"total","value":$totalJson,"unit":"sec","n":${results.size},"failed":${failed.size},"cpu_ms_total":$cpuTotal,"run_ms_total":$runTotal,"cpus":$cpus,"sf":"$sfDir","detail":"bench_detail.json"}"""
    println(line)
    spark.stop()
  }
}
