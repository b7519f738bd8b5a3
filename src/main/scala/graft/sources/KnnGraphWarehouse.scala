package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.operators.{Layout, Vectors}

/** The kNN-graph MV at its DEPLOY shape (VERDICT r10 item 2) — the
  * [[DedupWarehouse]] discipline applied to the last incremental MV that
  * still composed its stored state as live lineage in-gate: the stored
  * graph ([[Vectors.knnGraph]]'s `(label, vec_a, vec_b, cosine,
  * nn_rank)` edges) is written ONCE as a label-bucketed catalog table,
  * and [[Vectors.knnGraphIncrement]] then maintains over a table SCAN —
  * the maintained plan's only inputs are the stored-graph scan, the old
  * corpus and the delta. No build lineage rides the plan, so the
  * verify-phase broadcast builds that carried the r9-attributed
  * 2–4 MiB serialized-plan task binaries have nothing to serialize but
  * scans (reference workload: HoloChatStats' pgvector neighbor graph
  * behind `web/api.py:3009`, which a 100 TB deploy would store
  * partitioned by block, not rebuild per query).
  *
  * The `_wh` gate entry's oracle is STILL the monolithic full-corpus
  * graph SQL (the `v_knn_join_incremental` oracle), so hash equality proves the
  * stored-state maintenance exact end to end — write, scan, prune,
  * rebuild, union. Bucketing by `label`: the maintenance filter and the
  * deploy's partition-overwrite write path are both label-keyed (at
  * deploy `label` would be the PARTITION column and the kept-edge filter
  * partition pruning; the in-gate bucketed form keeps the same
  * scan-clustered layout under the session catalog).
  */
object KnnGraphWarehouse {

  val GraphTable = "graft_knn_graph"

  /** Same cross-session managed-location reset as [[DedupWarehouse]]. */
  private def reset(spark: SparkSession, table: String): Unit = {
    spark.sql(s"DROP TABLE IF EXISTS $table")
    val wh = java.net.URI.create(spark.conf.get("spark.sql.warehouse.dir"))
    val dir = new java.io.File(
      if (wh.getScheme == null) wh.toString else java.nio.file.Paths.get(wh).toString, table)
    if (dir.exists()) {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(dir.toPath).iterator().asScala.toSeq.reverse
        .foreach(p => java.nio.file.Files.deleteIfExists(p))
    }
  }

  /** Memoized bootstrap key — (session, semantic hash of the bootstrap
    * input plan, k, buckets); see [[DedupWarehouse.bootstrapped]].
    */
  @volatile private var bootstrapped: Option[(SparkSession, Int, Int, Int)] = None

  /** Full-history graph build — the bootstrap job a deploy runs once,
    * then maintains per ingest batch.
    */
  def bootstrap(oldVectors: DataFrame, k: Int = 5, buckets: Int = 8): Unit = synchronized {
    val spark = oldVectors.sparkSession
    val key = (spark, oldVectors.queryExecution.analyzed.semanticHash(), k, buckets)
    if (bootstrapped.contains(key) && spark.catalog.tableExists(GraphTable)) return
    reset(spark, GraphTable)
    Layout.writeBucketed(Vectors.knnGraph(oldVectors, k), GraphTable, "label", buckets)
    bootstrapped = Some(key)
  }

  /** #130 stored-state graph maintenance: [[Vectors.knnGraphIncrement]]
    * with the stored graph read from the catalog — untouched labels pass
    * through from the SCAN verbatim, touched blocks rebuild from
    * old ∪ delta.
    */
  def maintained(spark: SparkSession, oldVectors: DataFrame, delta: DataFrame,
                 k: Int = 5): DataFrame =
    Vectors.knnGraphIncrement(spark.table(GraphTable), oldVectors, delta, k)
}
