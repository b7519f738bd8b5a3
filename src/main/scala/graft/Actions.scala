package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Shared helpers for the harness mains (Bench / Verify / Explain / the
  * soak mains): the one session they all run, the query selection, the
  * between-query reset and the full-materialization action.
  */
object Actions {

  /** Local slots: `SPARK_GRAFT_CPUS`, else the host's core count. */
  def cpus(): Int =
    sys.env.get("SPARK_GRAFT_CPUS").fold(Runtime.getRuntime.availableProcessors())(_.toInt)

  /** The session every main runs, so the correctness gate (Verify) checks
    * the same plans the bench times.
    */
  def session(cpus: Int): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.adaptive.coalescePartitions.parallelismFirst", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.autoBroadcastJoinThreshold", 50 * 1024 * 1024)
      // The whole-stage-codegen compile cache (STATIC conf) holds 100
      // generated classes by default; this suite's multi-job operators
      // cycle far more distinct codegen units than that, so tasks were
      // re-Janino-compiling mid-query while every sibling task queued on
      // the compile KeyLock (stack-dump attribution; measured over 16
      // heavy queries: 859 compiles / 45.0 s at the default vs 507 /
      // 14.3 s at 2000). Scale-neutral: long-lived executors run the
      // same generated classes repeatedly at any corpus size, and the
      // cache is bounded (~2000 classes, tens of MB).
      .config("spark.sql.codegen.cache.maxEntries", "2000")
      // Let AQE re-plan the output partitioning of shuffles INSIDE cached
      // plans (default false for legacy compatibility only): without it
      // every sharedCache'd rollup materializes at raw
      // spark.sql.shuffle.partitions forever and every downstream stage
      // inherits that task count — at sf0.1 that was 32 near-empty tasks
      // per stage whose per-task overhead dominated (q_attrition isolated:
      // 134 -> 10 tasks, rep-2 cpu 5.4 s -> 0.3 s, wall 5.2 -> 1.1 s; the
      // whole q_ rollup family collapses the same way). Scale-neutral by
      // construction: AQE coalesces cached-plan shuffles to the SAME
      // advisory partition size it already targets for uncached ones, so
      // at real volume partitions stay advisory-sized and parallelism
      // returns; CPU-dense relations that must keep their fan-out
      // (shingleArrays, forecast training) use explicit
      // repartition(N, col), which AQE never coalesces.
      .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Touch every table once (which also resolves it for the session, see
    * [[Tables]]), then absorb first-execution machinery costs
    * (broadcast thread pools, AQE, window/cache/codegen paths, JIT of
    * shuffle internals) on a tiny slice, so the FIRST timed query
    * measures its plan, not session init — the alphabetically-first
    * queries were paying ~3s of one-time overhead. Errors propagate: a
    * bad `sfDir` or a broken reader must fail here, not hide behind a run
    * in which every query fails for a secondary reason.
    */
  def warmup(spark: SparkSession, sfDir: String): Unit = {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions._
    Tables.all.foreach { case (_, rd) => rd(spark, sfDir).count() }
    val e = Tables.events(spark, sfDir).limit(2000).cache()
    e.count()
    e.groupBy("event_type").agg(countDistinct("user_id").as("u")).count()
    e.join(broadcast(e.select(col("user_id")).distinct()), "user_id").count()
    e.select(row_number().over(Window.partitionBy("event_type").orderBy("ts")).as("rn")).count()
    e.select(size(array_distinct(transform(split(lit("a b c d e"), " "), x => upper(x)))).as("n")).count()
    spark.catalog.clearCache()
  }

  /** The registered queries a run covers: all of them, or the
    * comma-separated names in `only` (`SPARK_GRAFT_ONLY`, an iteration
    * aid). A misspelled name silently filtering to nothing would make an
    * all-miss run read as a clean (vacuous) pass — an unknown name fails
    * loudly instead.
    */
  def selected(only: Option[String]): Map[String, (SparkSession, String) => DataFrame] =
    only.map(_.split(",").map(_.trim).toSet).fold(SparkEntry.queries) { ks =>
      val unknown = ks.diff(SparkEntry.queries.keySet)
      require(unknown.isEmpty,
        s"SPARK_GRAFT_ONLY names not registered in SparkEntry.queries: ${unknown.toSeq.sorted.mkString(", ")}")
      SparkEntry.queries.filter(kv => ks(kv._1))
    }

  /** Between queries: drop the operators' tracked caches and every SQL
    * cache entry, so one query's pinned relations never skew the next
    * one's memory budget (or, in Explain, its AQE decisions).
    */
  def reset(spark: SparkSession): Unit = {
    Caches.release()
    spark.catalog.clearCache()
  }

  /** Full-materialization action for timing or driving a query. A
    * `count()` compiles to `Aggregate[count(1)]` and ColumnPruning then
    * drops every deterministic projection expression — a map-only
    * operator (classifier, scrubber, packer) would be "executed" as a
    * bare parquet scan and its real per-row cost never measured. The
    * noop DSv2 sink consumes every row of every column, so the full
    * operator pipeline runs exactly as a real write would, minus the IO.
    */
  def materialize(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  /** Locale-independent fixed-point formatting for JSON artifacts:
    * Scala's `"%.3f".format(v)` / f-interpolator use the default locale,
    * and a comma-decimal locale (e.g. de_DE) would silently emit invalid
    * JSON that fails the driver's `json.load` of the round artifact.
    */
  def fmt(v: Double, digits: Int): String =
    String.format(java.util.Locale.ROOT, s"%.${digits}f", Double.box(v))
}
