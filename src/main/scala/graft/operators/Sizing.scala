package graft.operators

import org.apache.spark.sql.DataFrame

/** One-call deploy sizing for the corpus-specific constants the gate
  * entries keep as fixed literals (their DuckDB twins must inline the
  * identical values across SFs). A deploy sizes them from the corpus
  * instead:
  *
  *   - [[Dedup.autoJaccardCap]] — the df cap for capped n-gram Jaccard
  *     candidate generation, with the zero-loss guarantee at the
  *     threshold (one aggregation pass over the inverted index);
  *   - [[Dedup.minhashBanding]] — (bands, rows) for the LSH banding at
  *     the operator's Jaccard threshold (driver-side S-curve optimum,
  *     no data pass);
  *   - [[Vectors.autoGeoCells]] — the geometry-blocked graph's cell
  *     count at the C = √(nProbe·N) cost-model optimum (one count).
  *
  * Total sizing cost: two bounded actions (the cap statistic and the
  * vector count) + closed-form math — safe to run at every ingest or
  * memoize per corpus snapshot. "Sizing at deploy" in `git show
  * d1c0210:SCALING.md` documents the recipe; SizingSpec composes all
  * three against the operators on the spec corpus.
  */
object Sizing {

  /** The sized constants for one corpus snapshot.
    * @param jaccardCap   df cap for `Dedup.ngramJaccard(maxDf = Some(_))`
    * @param bands×rows   LSH banding for the minhash index
    * @param geoCells     `Vectors.knnJoinGeo(kCells = _)` cell count
    * @param conf         recommended Spark session conf ([[clusterConf]])
    */
  final case class Sized(jaccardCap: Long, bands: Int, rows: Int, geoCells: Int,
                         conf: Map[String, String])

  /** Recommended session conf for running the engine over `corpusBytes`
    * of input on `totalCores` executor cores — the arithmetic behind
    * SURVEY §4's "shuffle sized to the cluster at deploy" sentence
    * (SizingSpec pins it; SCALING.md's session conf lists it):
    *
    *  - `spark.sql.shuffle.partitions`: one ~128 MiB shuffle block per
    *    partition so a block (plus 2–3× aggregation expansion) fits an
    *    executor-core's working memory, floored at 2 waves per core so
    *    stragglers overlap and AQE has room to coalesce DOWN (its cheap
    *    direction — splitting up requires the skew handlers);
    *  - `spark.sql.adaptive.advisoryPartitionSizeInBytes` = 64 MiB: the
    *    AQE coalesce/skew target, half the static block so post-filter
    *    stages re-pack without starving parallelism;
    *  - `spark.sql.files.maxPartitionBytes`: scan splits sized so the
    *    read stage also fills 2 waves, clamped to [16 MiB, 256 MiB]
    *    (below 16 MiB footer overhead dominates; above 256 MiB a task
    *    death re-reads too much);
    *  - `spark.sql.autoBroadcastJoinThreshold`: ~5 % of per-core memory,
    *    capped at 256 MiB — the engine's dimension sides (centroid
    *    matrices, month maps, thresholds) are far below it, and a
    *    mis-estimated fact side must not be broadcast;
    *  - `spark.sql.optimizer.canChangeCachedPlanOutputPartitioning=true`:
    *    without it AQE never re-plans the output partitioning of shuffles
    *    INSIDE cached plans, so every sharedCache'd rollup/MV stays frozen
    *    at its build-time `spark.sql.shuffle.partitions` forever regardless
    *    of data volume; with it, cached-plan partitions track the same
    *    advisory size as uncached ones (measured: suite executor CPU −46 %
    *    at the bench corpus; the scale-FAITHFUL setting — see SCALING.md);
    *  - `spark.graft.spread.cores` = `totalCores`: the fan-out width the
    *    engine's tiny-bytes/huge-CPU spreads use (block pair-join spread,
    *    union-find label slicing). Defaults to `defaultParallelism` when
    *    unset, which under dynamic allocation can be far below eventual
    *    cluster width at plan-build time — a deploy pins it to the fleet.
    *
    * `spark.sql.codegen.cache.maxEntries=2000` belongs with these but is a
    * STATIC conf (rejected by `spark.conf.set` on a live session), so it is
    * documented in SCALING.md's deploy recipe as cluster conf instead of
    * emitted here.
    */
  def clusterConf(corpusBytes: Long, totalCores: Int,
                  memoryPerCoreBytes: Long = 4L << 30): Map[String, String] = {
    require(corpusBytes >= 0 && totalCores > 0 && memoryPerCoreBytes > 0,
      s"invalid cluster shape: bytes=$corpusBytes cores=$totalCores mem/core=$memoryPerCoreBytes")
    val blockTarget = 128L << 20
    val shuffleParts = math.max(2L * totalCores,
      (corpusBytes + blockTarget - 1) / blockTarget)
    val scanSplit = math.min(256L << 20,
      math.max(16L << 20, corpusBytes / (2L * totalCores)))
    val broadcast = math.min(256L << 20, memoryPerCoreBytes / 20)
    Map(
      "spark.sql.shuffle.partitions" -> shuffleParts.toString,
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> (64L << 20).toString,
      "spark.sql.files.maxPartitionBytes" -> scanSplit.toString,
      "spark.sql.autoBroadcastJoinThreshold" -> broadcast.toString,
      "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning" -> "true",
      "spark.graft.spread.cores" -> totalCores.toString)
  }

  /** The fan-out width for tiny-bytes/huge-CPU spreads (explicit
    * REPARTITION_BY_NUM of relations whose bytes are far below a shuffle
    * block but whose per-row CPU is the stage's cost): the deploy-pinned
    * `spark.graft.spread.cores` when set ([[clusterConf]] emits it), else
    * the session's `defaultParallelism`. The fallback is plan-build-time
    * parallelism, which under dynamic allocation can undershoot the
    * eventual cluster width — that is exactly why the conf exists.
    */
  def spreadCores(spark: org.apache.spark.sql.SparkSession): Int = {
    val v = spark.conf.getOption("spark.graft.spread.cores").map(_.trim)
    val parsed = v.flatMap(s => scala.util.Try(s.toInt).toOption)
    v.foreach { s => require(parsed.exists(_ > 0),
      s"spark.graft.spread.cores must be a positive int, got '$s'") }
    parsed.getOrElse(spark.sparkContext.defaultParallelism)
  }

  /** Size every corpus-specific constant in one call.
    *
    * @param documents     corpus for the dedup family (doc_id, text)
    * @param embeddings    corpus for the graph family (vec_id, embedding)
    * @param jaccardThreshold  min Jaccard of the n-gram dedup deploy
    * @param minhashThreshold  min Jaccard of the MinHash dedup deploy
    * @param nProbe        probe width of the geometry-blocked graph
    */
  def forCorpus(documents: DataFrame, embeddings: DataFrame,
                jaccardThreshold: Double = 0.3,
                minhashThreshold: Double = 0.7,
                nProbe: Int = 2): Sized = {
    val cap = Dedup.autoJaccardCap(documents, minJaccard = jaccardThreshold)
    val (b, r) = Dedup.minhashBanding(minhashThreshold)
    val cells = Vectors.autoGeoCells(embeddings, nProbe)
    // corpus footprint from the optimizer's own statistics (file sizes
    // for parquet relations — no data pass), cluster shape from the
    // session; memory-per-core left at the 4 GiB default (pass
    // clusterConf directly to size a specific fleet)
    val bytes = (documents.queryExecution.optimizedPlan.stats.sizeInBytes +
      embeddings.queryExecution.optimizedPlan.stats.sizeInBytes)
      .min(BigInt(Long.MaxValue)).toLong
    val cores = documents.sparkSession.sparkContext.defaultParallelism
    Sized(cap, b, r, cells, clusterConf(bytes, cores))
  }
}
