package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.classic
import org.apache.spark.sql.functions._

import graft.operators.Dedup

/** Every relation a dedup operator pins is tracked by [[Caches]]: after a
  * materialized entry, `Caches.release()` alone leaves the session's
  * CacheManager and the SparkContext's persisted RDDs empty. A bare
  * `.cache()` or `localCheckpoint()` inside an operator would stay pinned
  * for the session's life and fails here.
  */
class DedupReleaseSpec extends SparkSpec {

  private lazy val docs = graft.Fixtures.plantedDocs(Tables.documents(spark, sfDir))
  private lazy val emb = Tables.embeddings(spark, sfDir)
  private lazy val old = docs.filter(col("doc_id") % 7 < 5)
  private lazy val delta = docs.filter(col("doc_id") % 7 >= 5)

  private def cacheManager = spark.asInstanceOf[classic.SparkSession].sharedState.cacheManager

  private val entries: Seq[(String, () => DataFrame)] = Seq(
    "dedupMinhash" -> (() => Dedup.dedupMinhash(docs)),
    "dedupClusters" -> (() => Dedup.dedupClusters(docs)),
    "dedupClustersFromPairs" -> (() =>
      Dedup.dedupClustersFromPairs(Dedup.dedupMinhash(docs), docs)),
    "dedupClustersIncrement" -> (() => {
      val s = spark
      import s.implicits._
      Dedup.dedupClustersIncrement(
        Seq((1L, 1L), (2L, 1L), (5L, 5L)).toDF("doc_id", "cluster_id"),
        Seq((2L, 5L)).toDF("doc_a", "doc_b"), Seq(1L, 2L, 5L, 9L).toDF("doc_id"))
    }),
    "semDedup" -> (() => Dedup.semDedup(emb)),
    "semDedupGeo" -> (() => Dedup.semDedupGeo(emb)),
    "ngramJaccard" -> (() => Dedup.ngramJaccard(docs)),
    "ngramJaccard capped" -> (() => Dedup.ngramJaccard(docs, maxDf = Some(16L))),
    "substringOverlap" -> (() => Dedup.substringOverlap(docs)),
    "dedupLines" -> (() => Dedup.dedupLines(docs)),
    "minhashState + dedupMinhashIncrement" -> (() => {
      val (index, pairs) = Dedup.minhashState(old)
      Dedup.dedupMinhashIncrement(index, pairs, docs, delta)
    }),
    "minhashState + dedupClustersIncrement" -> (() => {
      val (index, pairs) = Dedup.minhashState(old)
      Dedup.dedupClustersIncrement(
        Dedup.dedupClustersFromPairs(pairs, old).select("doc_id", "cluster_id"),
        Dedup.minhashDeltaPairs(index, docs, delta), docs.select("doc_id"))
    }))

  for ((name, entry) <- entries) {
    test(s"$name: Caches.release() frees every relation it pinned") {
      Caches.release()
      spark.catalog.clearCache()
      Actions.materialize(entry())
      assert(Caches.trackedCount > 0, s"$name pinned nothing: the check would be vacuous")
      Caches.release()
      assert(cacheManager.isEmpty, s"$name left an untracked cache entry")
      // localCheckpoint persists its RDD outside the CacheManager
      val rdds = spark.sparkContext.getPersistentRDDs.values
      assert(rdds.isEmpty, s"$name left persisted RDDs: ${rdds.mkString(", ")}")
    }
  }
}
