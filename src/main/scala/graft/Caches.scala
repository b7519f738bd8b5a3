package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.storage.StorageLevel

/** Release seam for operator-internal persisted relations.
  *
  * Several operators persist an intermediate relation because two branches
  * of the same plan consume it (e.g. a unigram model build and the scoring
  * join both reading one pre-count). The persist is correct per-query, but
  * in a long-lived session repeated calls would accumulate corpus-scale
  * pinned relations. Operators therefore route those persists through
  * [[SharedCacheOps.sharedCache]], which registers them here; the harness
  * (Verify / Bench / a user's driver loop) calls [[release]] after the
  * consuming action completes. Caches that an operator releases itself
  * before returning (e.g. k-means training samples) do not register.
  */
object Caches {
  /** Each tracked relation's non-blocking unpersist. */
  private val tracked = new java.util.concurrent.ConcurrentLinkedQueue[() => Unit]()

  implicit final class SharedCacheOps(private val df: DataFrame) extends AnyVal {
    /** Persist MEMORY_AND_DISK and register for [[Caches.release]]. */
    def sharedCache: DataFrame = {
      val p = df.persist(StorageLevel.MEMORY_AND_DISK)
      tracked.add(() => p.unpersist(blocking = false))
      p
    }

    /** [[sharedCache]] + eager materialization (one count job) — the
      * materialize-before-fanout barrier for a cache whose consumers
      * include BROADCAST-EXCHANGE builds. Spark runs broadcast builds as
      * concurrent jobs; on a cold cache they race the main job for the
      * same partitions and every loser blocks on the BlockManager's
      * per-block compute lock ("Asked to cache already cached data"),
      * inflating executor run time 2-10x over cpu time (measured on the
      * unigram/bigram NLL and perplexity-bucket pipelines, whose model
      * thresholds/scalars broadcast off the cached pre-count). NOT the
      * default: a benchmarked suite-wide eager pass burned ~30% more CPU
      * overall (hyperthread contention during the forced all-core
      * materialization burst) and regressed the capped-Jaccard pipeline
      * 3x — eager is a per-site decision for measured broadcast-fanout
      * races (the dedup shingle sets and the capped-Jaccard doc metadata).
      * A relation needed twice is passed along, not rebuilt: each call
      * runs its own count.
      */
    def sharedCacheEager: DataFrame = {
      val p = df.sharedCache
      p.count()
      p
    }

    /** Eager `localCheckpoint` registered for [[Caches.release]]: lineage
      * truncation whose persisted RDD lives outside the CacheManager, so
      * `clearCache` never frees it. Unlike a released cache, a released
      * checkpoint cannot recompute: release only once its consumers ran.
      */
    def sharedCheckpoint: DataFrame = {
      val cp = df.localCheckpoint()
      cp.queryExecution.logical.foreach {
        case r: LogicalRDD => tracked.add(() => r.rdd.unpersist(blocking = false))
        case _ =>
      }
      cp
    }
  }

  /** Number of currently tracked (not yet released) relations. */
  def trackedCount: Int = tracked.size()

  /** Unpersist every tracked relation and checkpoint (non-blocking) and
    * forget it. A cache unpersisted under a query still in flight at worst
    * recomputes; a checkpoint's rows are gone, so call this between
    * requests, never under one.
    */
  def release(): Unit = {
    var unpersist = tracked.poll()
    while (unpersist != null) { unpersist(); unpersist = tracked.poll() }
  }
}
