package graft

import org.apache.spark.sql.catalyst.expressions.{AttributeReference, EqualTo, Literal}
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.util.QueryExecutionListener

/** Plan pins for the dashboard keys: each request runs only the stages its
  * result needs — no cache, no eager barrier, no broadcast or nested-loop
  * join for a 1-row scalar — and the top-k windows keep Spark's partial
  * group limit below their shuffle, which is what bounds a hot key.
  */
class DashboardPlanSpec extends SparkSpec with AdaptiveSparkPlanHelper {

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

  /** The pair queries whose sizes and norms ride on the rollup rows. */
  private val rowCarried = Seq("q_common_users_matrix", "q_common_members", "q_exclusive_users",
    "q_user_changes", "q_recommend", "q_content_similarity")

  rowCarried.foreach { key =>
    test(s"$key: constructing it caches nothing and runs no job but q_recommend's one collect; its plan reads no cache") {
      Caches.release()
      // resolve the tables first, outside the count
      Tables.events(spark, sfDir)
      Tables.documents(spark, sfDir)
      val executed = new java.util.concurrent.ConcurrentLinkedQueue[QueryExecution]()
      val listener = new QueryExecutionListener {
        override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
          executed.add(qe)
        override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
      }
      // an earlier test's query-end event may still be queued on the bus;
      // deliver it before registering, or the listener counts it here
      org.apache.spark.graftbridge.ListenerBridge.waitUntilEmpty(spark.sparkContext)
      spark.listenerManager.register(listener)
      val counter = new JobCounter(spark.sparkContext)
      val (df, jobs) = try {
        val before = counter.snapshot()
        val df = query(key)
        // the snapshot drains the listener bus, so `executed` is complete
        (df, (counter.snapshot() - before).jobs)
      } finally {
        spark.listenerManager.unregister(listener)
        spark.sparkContext.removeSparkListener(counter)
      }
      assert(Caches.trackedCount == 0, s"$key registered a shared cache")
      if (key == "q_recommend") {
        // the user's own channels: one collect whose user_id predicate
        // reaches the events scan, so it reads one user's rows
        assert(executed.size == 1, s"q_recommend ran ${executed.size} queries during construction")
        val scans = collect(executed.peek().executedPlan) { case f: FileSourceScanExec => f }
        val userPredicate = scans.flatMap(_.dataFilters).exists {
          case EqualTo(a: AttributeReference, Literal(3L, _)) => a.name == "user_id"
          case _ => false
        }
        assert(scans.size == 1 && userPredicate,
          s"the mine collect's user_id predicate did not reach the scan:\n${executed.peek().executedPlan}")
      } else {
        assert(jobs == 0, s"constructing $key ran $jobs Spark jobs")
        assert(executed.isEmpty)
      }
      val p = df.queryExecution.executedPlan.toString
      assert(!p.contains("InMemoryRelation") && !p.contains("InMemoryTableScan"), s"$key reads a cache:\n$p")
    }
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
