package graft

/** Plan pins for the dashboard keys: each request runs only the stages its
  * result needs — no cache, no eager barrier, no broadcast or nested-loop
  * join for a 1-row scalar — and the top-k windows keep Spark's partial
  * group limit below their shuffle, which is what bounds a hot key.
  */
class DashboardPlanSpec extends SparkSpec {

  private def query(key: String) = SparkEntry.queries(key)(spark, sfDir)
  private def plan(key: String): String = query(key).queryExecution.executedPlan.toString

  /** Indices of the ancestors of line `j` in a plan's tree string. */
  private def ancestors(lines: IndexedSeq[String], j: Int): Seq[Int] = {
    def indent(l: String) = l.indexWhere(_.isLetter)
    var depth = indent(lines(j))
    (j - 1 to 0 by -1).filter { i =>
      val d = indent(lines(i))
      (d < depth) && { depth = d; true }
    }
  }

  test("q_common_users: no cache, no broadcast, the cell predicate reaches the scan") {
    val p = plan("q_common_users")
    Seq("InMemoryRelation", "InMemoryTableScan", "BroadcastExchange", "BroadcastNestedLoopJoin")
      .foreach(op => assert(!p.contains(op), s"q_common_users gained $op:\n$p"))
    val scan = p.linesIterator.filter(_.contains("FileScan")).toSeq
    assert(scan.size == 1, s"q_common_users must scan events once:\n$p")
    val dataFilters = scan.head.substring(scan.head.indexOf("DataFilters:"))
    assert(dataFilters.matches("""(?s)DataFilters: \[[^\]]*event_type#\d+ = click.*"""),
      s"the cell predicate did not reach the scan:\n$p")
  }

  test("q_channel_similarity: constructing it runs no job and caches nothing; it scans events once") {
    Caches.release()
    Tables.events(spark, sfDir) // resolve the table first, outside the count
    val counter = new JobCounter(spark.sparkContext)
    val before = counter.snapshot()
    val df = query("q_channel_similarity")
    assert((counter.snapshot() - before).jobs == 0, "construction ran Spark jobs")
    assert(Caches.trackedCount == 0, "construction registered a shared cache")
    val initial = df.queryExecution.executedPlan.toString
    assert(!initial.contains("InMemoryRelation") && !initial.contains("InMemoryTableScan"),
      s"q_channel_similarity reads a cache:\n$initial")
    df.collect()
    // after execution the adaptive plan is final and shows exchange reuse;
    // its string also prints the initial plan, which is left out here
    val executed = df.queryExecution.executedPlan.toString
    assert(executed.contains("isFinalPlan=true"))
    val scans = executed.linesIterator.takeWhile(!_.contains("== Initial Plan =="))
      .count(_.contains("FileScan"))
    assert(scans == 1, s"q_channel_similarity scans events $scans times:\n$executed")
  }

  test("q_chat_leaderboard and p_sample_stratified: a partial WindowGroupLimit runs below the exchange") {
    Seq("q_chat_leaderboard", "p_sample_stratified").foreach { key =>
      val lines = plan(key).linesIterator.toIndexedSeq
      val partial = lines.indices.filter(j =>
        lines(j).contains("WindowGroupLimit") && lines(j).contains("Partial"))
      assert(partial.nonEmpty, s"$key has no partial WindowGroupLimit:\n${lines.mkString("\n")}")
      partial.foreach { j =>
        assert(ancestors(lines, j).exists(i => lines(i).contains("Exchange hashpartitioning")),
          s"$key's partial limit is not below an exchange:\n${lines.mkString("\n")}")
      }
      assert(lines.exists(l => l.contains("WindowGroupLimit") && l.contains("Final")), key)
    }
  }
}
