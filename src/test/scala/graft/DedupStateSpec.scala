package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.Dedup
import graft.sources.DedupWarehouse

/** The stored near-dup state of a corpus — [[Dedup.minhashState]]'s index
  * and pairs, and the [[DedupWarehouse]] tables written from them — and
  * the maintenance that runs over it: every maintained result equals the
  * monolithic operator over the whole corpus, on the planted fixture and
  * on degenerate corpora. And what building it costs: one scan of the
  * planted corpus, one pin per minhash corpus.
  */
class DedupStateSpec extends SparkSpec {

  private lazy val docs = graft.Fixtures.plantedDocs(Tables.documents(spark, sfDir))
  private lazy val old = docs.filter(col("doc_id") % 7 < 5)
  private lazy val delta = docs.filter(col("doc_id") % 7 >= 5)

  private def rows(df: DataFrame): Set[Seq[Any]] = df.collect().map(_.toSeq).toSet

  /** Let detached broadcast jobs that still scan a warehouse table finish,
    * then drop the three tables.
    */
  private def dropWarehouse(): Unit = {
    val tracker = spark.sparkContext.statusTracker
    val deadline = System.currentTimeMillis + 30000
    while (tracker.getActiveJobIds.nonEmpty && System.currentTimeMillis < deadline)
      Thread.sleep(100)
    Seq(DedupWarehouse.IndexTable, DedupWarehouse.PairsTable, DedupWarehouse.LabelsTable)
      .foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
    spark.catalog.clearCache()
  }

  test("warehouse: maintained pairs and clusters ≡ monolithic; stored pairs ≡ live minhashState") {
    try {
      DedupWarehouse.bootstrap(old)
      val (index, pairs) = Dedup.minhashState(old)
      assert(rows(spark.table(DedupWarehouse.PairsTable)) === rows(pairs))
      assert(rows(spark.table(DedupWarehouse.IndexTable)) === rows(index))
      val mono = rows(Dedup.dedupMinhash(docs))
      assert(mono.exists(p => (p(0).asInstanceOf[Long] % 7 < 5) != (p(1).asInstanceOf[Long] % 7 < 5)),
        "the split must have cross old/delta pairs for this test to bite")
      assert(rows(DedupWarehouse.maintainedPairs(spark, docs, delta)) === mono)
      assert(rows(DedupWarehouse.maintainedClusters(spark, docs, delta)) ===
        rows(Dedup.dedupClusters(docs)))
    } finally dropWarehouse()
  }

  test("warehouse: a second bootstrap of the same input is skipped; another input rebuilds") {
    def pairFiles = spark.table(DedupWarehouse.PairsTable).inputFiles.toSet
    try {
      DedupWarehouse.bootstrap(old)
      val first = pairFiles
      // a new DataFrame over the same plan: same semantic input
      DedupWarehouse.bootstrap(docs.filter(col("doc_id") % 7 < 5))
      assert(pairFiles === first, "an identical input must not rewrite the tables")
      val other = docs.filter(col("doc_id") % 7 < 3)
      DedupWarehouse.bootstrap(other)
      assert(pairFiles.intersect(first).isEmpty, "a different input must rewrite the tables")
      assert(rows(spark.table(DedupWarehouse.PairsTable)) === rows(Dedup.dedupMinhash(other)))
    } finally dropWarehouse()
  }

  /** minhashState(old) → both increments ≡ the monolithic operators over
    * old ∪ delta. Returns (index rows, pairs, clusters).
    */
  private def maintain(old: DataFrame, delta: DataFrame): (Long, Set[Seq[Any]], Set[Seq[Any]]) = {
    val all = old.unionByName(delta)
    val (index, pairs) = Dedup.minhashState(old)
    val incPairs = rows(Dedup.dedupMinhashIncrement(index, pairs, all, delta))
    assert(incPairs === rows(Dedup.dedupMinhash(all)))
    val incClusters = rows(Dedup.dedupClustersIncrement(
      Dedup.dedupClustersFromPairs(pairs, old).select("doc_id", "cluster_id"),
      Dedup.minhashDeltaPairs(index, all, delta), all.select("doc_id")))
    assert(incClusters === rows(Dedup.dedupClusters(all)))
    (index.count(), incPairs, incClusters)
  }

  private def corpus(docs: (Long, String)*): DataFrame = {
    val s = spark
    import s.implicits._
    docs.toDF("doc_id", "text")
  }

  private val text = "the quick brown fox jumps over the lazy dog near the river bank"

  test("minhash state on an empty corpus: no index rows, no pairs, no clusters") {
    assert(maintain(corpus(), corpus()) === ((0L, Set.empty, Set.empty)))
  }

  test("minhash state on blank and NULL texts: empty index, no pairs, every doc its own cluster") {
    val (indexRows, pairs, clusters) = maintain(
      corpus(1L -> "", 2L -> null, 3L -> "   "), corpus(4L -> null, 5L -> " \t "))
    assert(indexRows == 0 && pairs.isEmpty)
    assert(clusters === (1L to 5L).map(d => Seq(d, d, true)).toSet)
  }

  test("minhash state on one hot band bucket: n exact copies give C(n,2) pairs at 1.0 and one cluster") {
    val n = 6
    val (_, pairs, clusters) = maintain(
      corpus((1L to 4L).map(_ -> text): _*), corpus((5L to n.toLong).map(_ -> text): _*))
    assert(pairs.size == n * (n - 1) / 2)
    assert(pairs.forall(_(2) == 1.0))
    assert(clusters === (1L to n.toLong).map(d => Seq(d, 1L, d == 1L)).toSet)
  }

  test("minhash state: a delta whose only near-duplicate is old is found through the stored index") {
    val (_, pairs, clusters) = maintain(
      corpus(1L -> text, 2L -> "completely different words in this other document entirely now"),
      corpus(10L -> s"$text today", 11L -> "an unrelated sentence about weather and trains"))
    assert(pairs.map(p => (p(0), p(1))) === Set((1L, 10L)))
    assert(clusters === Set(Seq(1L, 1L, true), Seq(2L, 2L, true), Seq(10L, 1L, false), Seq(11L, 11L, true)))
  }

  /** The planted fixture as three filtered scans of `documents`. */
  private def plantedByUnion(documents: DataFrame): DataFrame = {
    val w = split(lower(trim(col("text"))), "\\s+")
    val base = documents.select(col("doc_id"), lower(trim(col("text"))).as("text"))
    val near = documents.filter(col("doc_id") % 5 === 0 && size(w) > 10)
      .select((col("doc_id") + graft.Fixtures.NEAR_OFF).as("doc_id"),
        concat_ws(" ", slice(w, lit(1), size(w) - 5)).as("text"))
    val exact = documents.filter(col("doc_id") % 25 === 0)
      .select((col("doc_id") + graft.Fixtures.EXACT_OFF).as("doc_id"), lower(trim(col("text"))).as("text"))
    base.unionByName(near).unionByName(exact)
  }

  private def multiset(df: DataFrame): Map[Seq[Any], Int] =
    df.collect().toSeq.map(_.toSeq).groupBy(identity).map { case (r, rs) => r -> rs.size }

  private val long = "One two three four five six seven eight nine ten eleven twelve"

  test("plantedDocs ≡ the union of three filtered scans, as a multiset") {
    val raw = Tables.documents(spark, sfDir)
    assert(multiset(graft.Fixtures.plantedDocs(raw)) === multiset(plantedByUnion(raw)))
    val s = spark
    import s.implicits._
    val edge = Seq[(java.lang.Long, String)](
      (null, long), (null, null), (5L, null), (25L, null), (5L, long), (25L, long), (50L, long),
      (10L, "  Just Ten Words Here To Make Exactly Ten Words Long  "), (25L, "short text"),
      (7L, long), (75L, long), (75L, long), (3L, "")).toDF("doc_id", "text")
    val planted = multiset(graft.Fixtures.plantedDocs(edge))
    assert(planted === multiset(plantedByUnion(edge)))
    assert(planted.values.sum == 13 + 5 + 6, planted) // near: 5,25,50,75,75; exact: 25,25,50,75,75,25
  }

  test("plantedDocs plans one scan of documents") {
    def scans(df: DataFrame) = df.queryExecution.sparkPlan.collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f
    }.size
    val raw = Tables.documents(spark, sfDir)
    assert(scans(plantedByUnion(raw)) == 3, "control: the union scans three times")
    assert(scans(graft.Fixtures.plantedDocs(raw)) == 1)
  }

  test("minhashState pins once: the shingle sets with their minhashes") {
    Caches.release()
    try {
      Dedup.minhashState(old)
      assert(Caches.trackedCount == 1)
    } finally Caches.release()
  }

  // 20 with a pin for each corpus's shingle sets, another for its band
  // index and a third for the candidate docs' shingles: half of that
  test("constructing d_minhash_incremental runs at most 10 jobs") {
    Caches.release()
    Tables.documents(spark, sfDir) // the table resolution is not the key's
    val counter = new JobCounter(spark.sparkContext)
    val before = counter.snapshot()
    try {
      SparkEntry.queries("d_minhash_incremental")(spark, sfDir)
      val jobs = (counter.snapshot() - before).jobs
      assert(jobs <= 10, s"$jobs construction jobs")
    } finally Caches.release()
  }
}
