package graft

/** Dev tool: print the executed physical plan of the named SparkEntry
  * queries (args = the tables' directory, then query names; no names =
  * all) on the session Bench and Verify run. Each query is materialized
  * first, so the printed plan is AQE's final one (with its runtime
  * reuse/coalesce decisions) — the plan Bench times and Verify checks.
  */
object Explain {
  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: Explain <sfDir> [query ...]")
    val sfDir = args.head
    val spark = Actions.session(Actions.cpus())
    val names = if (args.length > 1) args.toSeq.tail else SparkEntry.queries.keys.toSeq.sorted
    names.foreach { name =>
      val df = SparkEntry.queries(name)(spark, sfDir)
      // Run this DataFrame's OWN plan over every row and column, so its
      // AdaptiveSparkPlanExec reaches the final plan. Actions.materialize
      // would execute a separate write QueryExecution and leave this one
      // at the initial plan; a count() would run the column-pruned plan
      // (map-only projections stripped), not the one Bench/Verify execute.
      df.queryExecution.toRdd.foreach(_ => ())
      println(s"===== $name =====")
      println(df.queryExecution.executedPlan.toString)
      // without a per-query reset, a run over the full registry
      // accumulates every operator's pinned relations and later queries'
      // AQE decisions (and thus printed plans) reflect a distorted memory
      // budget rather than what Bench/Verify actually run
      Actions.reset(spark)
    }
    spark.stop()
  }
}
