package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.operators.{Dedup, Layout}

/** The incremental-dedup DEPLOY shape, gate-proven (VERDICT r09 item 6):
  * the in-gate `d_minhash_incremental` / `d_clusters_incremental` entries
  * compose the stored index/pairs/labels as LIVE LINEAGE (rebuilt in the
  * same plan — fine for the equivalence proof, but it is what put the
  * ~2 MiB serialized-plan task binaries in the bench tail). At 100 TB the
  * stored state is a warehouse table, not a plan: this object writes the
  * three relations as bucketed catalog tables (the [[RollupWarehouse]]
  * discipline applied to the dedup MVs) and runs the SAME maintenance
  * operators over table SCANS — no build lineage in the maintained plan,
  * task binaries back under the broadcast-page noise floor.
  *
  * The `_wh` gate entries bootstrap from the old partition and maintain
  * with the delta; their oracle is STILL the monolithic full-corpus SQL
  * (the monolithic minhash / clusters oracles), so hash equality proves the
  * stored-state maintenance exact end to end — write, scan, probe, merge.
  *
  * Bucketing: the index by `sig` (the probe join's high-cardinality key;
  * the delta side is small and broadcasts, so bucketing here is for scan
  * clustering, not exchange elimination), pairs and labels by their doc
  * key — the join keys of the downstream cluster maintenance.
  */
object DedupWarehouse {

  val IndexTable = "graft_minhash_index"
  val PairsTable = "graft_minhash_pairs"
  val LabelsTable = "graft_dedup_labels"

  /** Drop a stored relation, including a location left by an EARLIER
    * SESSION of the same warehouse: the default in-memory catalog forgets
    * the table across sessions while its managed directory persists, and
    * CTAS then refuses the non-empty location. A metastore-backed deploy
    * doesn't hit this (DROP TABLE deletes managed locations); this is the
    * filesystem form of the same reset.
    */
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

  /** Key of the warehouse's CURRENT contents: (session, semantic hash of
    * the bootstrap input plan, params). A deploy bootstraps ONCE and then
    * maintains; the two `_wh` gate entries bootstrap from the same old
    * partition back to back, so [[bootstrap]] skips the rebuild when the
    * stored tables were written from a semantically identical input in
    * the same session (the catalog is session-scoped, so a new session
    * always rebuilds).
    */
  @volatile private var bootstrapped: Option[(SparkSession, Int, Int, Double, Int)] = None

  /** Full-history build of the three stored relations — the bootstrap job
    * a deploy runs once, then maintains per ingest batch. Index and pairs
    * come from one [[Dedup.minhashState]] (one shingle pass), the labels
    * from the stored pairs table.
    */
  def bootstrap(documents: DataFrame, k: Int = 3, minJaccard: Double = 0.7,
                buckets: Int = 8): Unit = synchronized {
    val spark = documents.sparkSession
    val key = (spark, documents.queryExecution.analyzed.semanticHash(), k, minJaccard, buckets)
    val tablesExist = Seq(IndexTable, PairsTable, LabelsTable)
      .forall(spark.catalog.tableExists)
    if (bootstrapped.contains(key) && tablesExist) return
    Seq(IndexTable, PairsTable, LabelsTable).foreach(reset(spark, _))
    val (index, pairs) = Dedup.minhashState(documents, k, minJaccard)
    Layout.writeBucketed(index, IndexTable, "sig", buckets)
    Layout.writeBucketed(pairs, PairsTable, "doc_a", buckets)
    // labels from the STORED pairs (state begets state — and the minhash
    // lineage is not run again for the components)
    Layout.writeBucketed(
      Dedup.dedupClustersFromPairs(spark.table(PairsTable), documents.select("doc_id"))
        .select("doc_id", "cluster_id"),
      LabelsTable, "doc_id", buckets)
    bootstrapped = Some(key)
  }

  /** #128 stored-state near-dup maintenance: [[Dedup.dedupMinhashIncrement]]
    * with index and pairs read from the catalog — the maintained plan's
    * only inputs are table scans plus the delta.
    */
  def maintainedPairs(spark: SparkSession, documents: DataFrame, delta: DataFrame,
                      k: Int = 3, minJaccard: Double = 0.7): DataFrame =
    Dedup.dedupMinhashIncrement(spark.table(IndexTable), spark.table(PairsTable),
      documents, delta, k, minJaccard)

  /** #129 stored-state cluster-MV maintenance: [[Dedup.dedupClustersIncrement]]
    * with labels and the probe index read from the catalog.
    */
  def maintainedClusters(spark: SparkSession, documents: DataFrame, delta: DataFrame,
                         k: Int = 3, minJaccard: Double = 0.7): DataFrame =
    Dedup.dedupClustersIncrement(spark.table(LabelsTable),
      Dedup.minhashDeltaPairs(spark.table(IndexTable), documents, delta, k, minJaccard),
      documents.select("doc_id"))
}
