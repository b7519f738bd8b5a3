package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._

import EventSemantics.fl

/** Vector similarity search over the `embeddings` table (SURVEY §2 #36,
  * #43, #44) — the Spark-native analog of the reference's pgvector
  * highlight search (`web/api.py:3009` search_highlights: embedding
  * cosine-distance top-k under structured filters).
  *
  * Determinism: dot products are computed as a strict left-to-right fold
  * (the codegen'd [[graft.functions.DotProduct]] expression in Spark,
  * `list_reduce` in DuckDB) over float-widened-to-double elements — both
  * engines execute the identical IEEE operation sequence, so results agree
  * bit-for-bit before rounding.
  *
  * Scale: brute-force top-k is a single scan + TakeOrdered (no shuffle of
  * the vectors). The IVF variant prunes the scan to the nProbe nearest
  * cells — at 100 TB the cell id is a partition column, so probing is
  * partition pruning; centroids are a tiny aggregate (cells × dims)
  * broadcast to the scan.
  */
object Vectors {

  private[graft] val DIM = 64

  /** query vector (vec_id = qId) widened to double, as a 1-row frame. */
  private def queryVec(embeddings: DataFrame, qId: Long): DataFrame =
    embeddings.filter(col("vec_id") === qId)
      .select(transform(col("embedding"), x => x.cast("double")).as("qv"))

  private def cosTo(v: Column, q: Column): Column = {
    // codegen'd strict-fold dot product (graft.functions.DotProduct) — the
    // zip_with/aggregate formulation is interpreted per element
    def dot(a: Column, b: Column) = graft.functions.VectorFunctions.vecDot(a, b)
    dot(v, q) / (sqrt(dot(v, v)) * sqrt(dot(q, q)))
  }

  /** Exact-cosine top-k of `cands` (vec_id, label, embedding) against the
    * query vector of `qId`: the broadcast 1-row query, the 6-floored
    * cosine and the (cosine DESC, vec_id ASC) TakeOrdered that every
    * single-query ANN path ends in. `extra` columns ride between label and
    * cosine.
    */
  private def rankToQuery(cands: DataFrame, embeddings: DataFrame, qId: Long, k: Int,
                          extra: Column*): DataFrame =
    cands.crossJoin(broadcast(queryVec(embeddings, qId)))
      .select(Seq(col("vec_id"), col("label")) ++ extra :+
        fl(cosTo(col("embedding"), col("qv")), 6).as("cosine"): _*)
      .orderBy(col("cosine").desc, col("vec_id").asc)
      .limit(k)

  /** #43 brute-force cosine top-k against the vector of `qId`. Candidates
    * and query row are the [[kmValid]] vectors: vec_dot would score a
    * wrong-dimension vector over min(len) elements, where the oracle's
    * cosine is NULL.
    */
  def annTopK(embeddings: DataFrame, qId: Long = 0L, k: Int = 10): DataFrame = {
    val valid = embeddings.filter(kmValid)
    rankToQuery(valid.filter(col("vec_id") =!= qId), valid, qId, k)
  }

  /** #36 structured-filter ANN (search_highlights): same top-k but only
    * over rows passing the metadata predicate (label whitelist here; the
    * reference filters channel/date the same way — predicate first, then
    * distance ranking, so the filter pushes down to the scan).
    */
  def searchHighlights(embeddings: DataFrame, qId: Long = 0L, k: Int = 10,
                       labels: Seq[Int] = Seq(2, 5, 7)): DataFrame = {
    val valid = embeddings.filter(kmValid)
    rankToQuery(
      valid.filter(col("vec_id") =!= qId && col("label").isin(labels.map(Integer.valueOf): _*)),
      valid, qId, k)
  }

  /** Per-label mean vectors (label, cvec) of `e` — the coarse quantizer
    * of the IVF paths and the probe centroids of the multi-probe graph.
    * The custom vec_sum aggregate ([[graft.functions.VectorSumAgg]]) keeps
    * one double[dim] per (cell, partition) through the merge path, instead
    * of a dim-fold posexplode + groupBy(cell, pos) + collect_list
    * reassembly.
    */
  private def labelCentroids(e: DataFrame): DataFrame =
    e.groupBy("label")
      .agg(graft.functions.VectorFunctions.vecSum(col("embedding"), DIM).as("sv"),
        count(lit(1)).as("nv"))
      .select(col("label"), transform(col("sv"), x => x / col("nv").cast("double")).as("cvec"))

  /** [[labelCentroids]] of the valid, labeled vectors, collected in label
    * order — ONE driver collect bounded by the label/cell cardinality
    * ([[maxGeoCells]], past which the call fails). An
    * invalid row would hard-throw in vec_sum (wrong dim) or skew the mean
    * (vec_sum's per-slot null skip over the FULL row count vs DuckDB AVG's
    * non-null denominator); a null label must not become a centroid group.
    */
  private def centroidTable(embeddings: DataFrame): Array[(Int, Array[Double])] = {
    val cap = maxGeoCells()
    Checks.boundedCollect(labelCentroids(embeddings.filter(kmValid && col("label").isNotNull)),
      cap, s"centroidTable's label cells (maxGeoCells() = $cap)")
      .map(r => r.getInt(0) -> r.getSeq[Double](1).toArray)
      .sortBy(_._1)
  }

  /** #44 IVF-style ANN: per-label centroids as the coarse quantizer, rank
    * cells by centroid-to-query cosine, probe the top `nProbe` cells, then
    * exact top-k inside the probed cells only. Centroids and candidates are
    * the [[kmValid]] vectors, as in [[blockPairs]]: one wrong-dimension
    * row would otherwise abort vec_sum.
    */
  def annIvf(embeddings: DataFrame, qId: Long = 0L, k: Int = 10, nProbe: Int = 3): DataFrame = {
    val valid = embeddings.filter(kmValid)
    val probed = labelCentroids(valid).crossJoin(broadcast(queryVec(embeddings, qId)))
      .select(col("label"), cosTo(col("cvec"), col("qv")).as("cscore"))
      .orderBy(col("cscore").desc, col("label").asc)
      .limit(nProbe)
      .select("label")
    rankToQuery(valid.filter(col("vec_id") =!= qId).join(broadcast(probed), "label"),
      embeddings, qId, k)
  }

  // ---- #83 random-hyperplane LSH ANN ---------------------------------------
  private[graft] val LSH_TABLES = 4
  private[graft] val LSH_BITS = 6

  /** Deterministic ±1 hyperplane component for (table, bit, dim): parity of
    * an md5-derived value, computed once on the driver and inlined as a
    * LITERAL in both the Spark plan and the oracle SQL — the two engines
    * share the planes by construction (same trick as Dedup's minhash perm
    * constants).
    */
  private def lshSign(t: Int, j: Int, d: Int): Double = {
    val hex = java.security.MessageDigest.getInstance("MD5")
      .digest(s"lsh$t-$j-$d".getBytes("UTF-8")).map("%02x".format(_)).mkString
    if ((java.lang.Long.parseLong(hex.substring(0, 7), 16) & 1L) == 0L) 1.0 else -1.0
  }
  private[graft] def lshPlane(t: Int, j: Int): Seq[Double] =
    (1 to DIM).map(d => lshSign(t, j, d))

  /** #83 LSH-bucketed ANN (Charikar's SimHash-for-cosine, the sibling of
    * the IVF path): per table t, a `LSH_BITS`-bit signature — bit j = sign
    * of the dot with a fixed random hyperplane — buckets the corpus; the
    * query probes its own bucket in EVERY table, the union of collisions is
    * verified with exact cosine, top-k of the survivors. Recall < 1 by
    * design (that is the LSH trade) — but deterministic, so the oracle
    * matches exactly.
    *
    * Scale: the signature is an in-row projection over the scan (zero
    * shuffle — the sign dots are codegen'd strict folds against literal
    * arrays). At 100 TB the (table, bucket) pair is the partition key of a
    * precomputed index relation; a query touches TABLES × 1 buckets =
    * ~TABLES/2^BITS of the corpus, and the probe side (TABLES rows) is
    * broadcast. No distance is computed outside the probed buckets.
    * Only [[kmValid]] vectors are bucketed, scored or used as the query.
    */
  def annLsh(embeddings: DataFrame, qId: Long = 0L, k: Int = 10): DataFrame = {
    val valid = embeddings.filter(kmValid)
    val vd = transform(col("embedding"), x => x.cast("double"))
    def bucket(t: Int): Column =
      (0 until LSH_BITS).map { j =>
        val plane = array(lshPlane(t, j).map(lit): _*)
        when(graft.functions.VectorFunctions.vecDot(col("vdd"), plane) >= 0d,
          lit(1 << j)).otherwise(lit(0))
      }.reduce(_ + _)
    val sig = valid
      .select(col("vec_id"), col("label"), col("embedding"), vd.as("vdd"))
      .select(col("vec_id"), col("label"), col("embedding"),
        posexplode(array((0 until LSH_TABLES).map(bucket): _*)).as(Seq("t", "bucket")))
    val qBuckets = sig.filter(col("vec_id") === qId).select("t", "bucket")
    rankToQuery(
      sig.filter(col("vec_id") =!= qId)
        .join(broadcast(qBuckets), Seq("t", "bucket"))
        .select("vec_id", "label", "embedding").distinct(),
      valid, qId, k)
  }

  // ---- #94 blocked kNN join --------------------------------------------------
  /** Spread the STREAMED side of a block pair join when the planner is
    * about to BROADCAST the other side. In that regime the join inserts
    * no exchange, so the CPU-quadratic pair enumeration inherits the
    * SCAN's partitioning — and a small corpus delivered as one parquet
    * file has as many scan partitions as ROW GROUPS (often 1-2),
    * serializing minutes of pair/dot CPU onto 1-2 cores (measured at the
    * x10 soak corpus: v_knn_join_geo 133 s wall ≈ 128 s cpu on 2 tasks).
    * The explicit REPARTITION_BY_NUM by unique vec_id (exempt from AQE's
    * byte-based coalescing — the relation is tiny-bytes/huge-CPU, the
    * shingleArrays class) costs one shuffle of at most
    * autoBroadcastJoinThreshold-estimated bytes. Above the threshold the
    * join shuffles both sides by the block key itself and parallelism is
    * the shuffle partitioning, so the spread is skipped — the at-scale
    * plan is untouched. Plan-time decision from the same size estimate
    * the planner's broadcast choice reads; rows and values are unchanged
    * (the top-k window orders by (cosine, vec_b) — a total order).
    *
    * Known gap: AQE can still convert a sort-merge join to broadcast at
    * RUNTIME when the plan-time estimate exceeded the threshold but the
    * actual build side is small — in that regime the streamed side keeps
    * its shuffle partitioning (spread by the block key), so parallelism
    * is the shuffle width, not scan row groups; only extreme per-key
    * block skew would then serialize, which the at-scale shuffle shape
    * has anyway. Perf-only either way, never correctness.
    *
    * Spread width: `Sizing.spreadCores` — the deploy-pinned
    * `spark.graft.spread.cores` when set, else `defaultParallelism`
    * (which under dynamic allocation can undershoot the eventual cluster
    * width at plan-build time; clusterConf pins it for a fleet).
    *
    * `key` is the streamed side's unique row id (vec_id for the vector
    * block joins, doc_id for [[graft.operators.Dedup.ngramJaccard]]'s
    * shingle inverted-index pair joins).
    */
  private[operators] def spreadIfBroadcastJoin(aSide: DataFrame, source: DataFrame,
                                               key: String = "vec_id"): DataFrame = {
    val spark = source.sparkSession
    val thresh = spark.sessionState.conf.autoBroadcastJoinThreshold
    val est = source.queryExecution.optimizedPlan.stats.sizeInBytes
    if (thresh > 0 && est <= thresh)
      aSide.repartition(Sizing.spreadCores(spark), col(key))
    else aSide
  }

  /** The block pair join under the whole kNN-graph and near-dup family
    * (knnJoin, knnGraph, the multi-probe joins, Dedup.embedNearDup). Only
    * valid vectors ([[kmValid]], applied once here — the oracles' `vsrc`
    * CTE) enter; each pairs with the vectors of its block, scored by the
    * 6-floored strict-fold cosine. A vector's block is its `label`; with
    * `probes` (extra labels per vector — the multi-probe stage) it is
    * exploded into its own label plus those, and the b side still moves
    * keyed by its home label, so cost is nProbe × block size. `idPred` on
    * the two vec_ids keeps ordered (`=!=`, the kNN graph) or unordered
    * (`<`, near-dup) pairs; `withLabel` carries the a-side block label
    * (the graph MV's partition column).
    *
    * The b side is the normed relation the planner decides whether to
    * broadcast, so its size estimate is the one the a-side spread reads.
    */
  private[operators] def blockPairs(embeddings: DataFrame,
                                    idPred: (Column, Column) => Column = _ =!= _,
                                    probes: Option[Column] = None,
                                    withLabel: Boolean = false): DataFrame = {
    import graft.functions.VectorFunctions.{vecDot, vecNorm2}
    val valid = embeddings.filter(kmValid)
    val b = valid.select(col("vec_id"), col("label"),
      col("embedding").as("v"), vecNorm2(col("embedding")).as("n2"))
    val (a, block) = probes.fold((b, "label")) { p =>
      (valid.select(col("vec_id"),
        col("embedding").as("v"), vecNorm2(col("embedding")).as("n2"),
        explode(array_distinct(concat(array(col("label")), p))).as("probe_label")),
        "probe_label")
    }
    val pair = Seq(col("a.vec_id").as("vec_a"), col("b.vec_id").as("vec_b"),
      fl(vecDot(col("a.v"), col("b.v")) / (sqrt(col("a.n2")) * sqrt(col("b.n2"))),
        OKEY_COS_SCALE).as("cosine"))
    spreadIfBroadcastJoin(a, b).as("a")
      .join(b.as("b"),
        col(s"a.$block") === col("b.label") && idPred(col("a.vec_id"), col("b.vec_id")))
      .select((if (withLabel) col("a.label").as("label") +: pair else pair): _*)
  }

  /** Per-vector top-k of a [[blockPairs]] relation: a window PARTITIONED
    * BY the source vector (group size = block size × probes, never the
    * corpus) over (cosine DESC, vec_b ASC) — a total order — and
    * WindowGroupLimit pushes the rank <= k filter below the exchange. No
    * global sort anywhere.
    */
  private def topK(pairs: DataFrame, k: Int): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("vec_a").orderBy(col("cosine").desc, col("vec_b").asc)
    pairs.withColumn("nn_rank", row_number().over(w).cast("long")).filter(col("nn_rank") <= k)
  }

  /** k-nearest-neighbor JOIN: for EVERY vector, its k most similar
    * neighbors inside its blocking cell — the kNN-graph build that
    * semantic-dedup (SemDeDup-style) and embedding-clustering pipelines
    * run corpus-wide, as opposed to the single-query ANN paths (#43/44/83/89).
    *
    * Scale: the self-join is keyed by the blocking label (at 100 TB the
    * IVF cell / LSH bucket — the same blocking [[graft.operators.Dedup.embedNearDup]]
    * uses), so each task only scores within its block ([[blockPairs]]),
    * then [[topK]].
    */
  def knnJoin(embeddings: DataFrame, k: Int = 5): DataFrame = topK(blockPairs(embeddings), k)

  /** #97 multi-probe kNN join: each vector scores against its `nProbe`
    * nearest blocks by centroid cosine (its own block always included),
    * bounding the recall loss of the single-block kNN graph — a vector
    * sitting near a block boundary finds its true neighbors across it.
    *
    * Scale: the centroid table is bounded by the label/cell cardinality —
    * ONE tiny collect (annIvf's coarse quantizer, reused here as
    * LITERALS), so probe assignment is a zero-shuffle in-row projection
    * over the scan: score the centroids, sort, slice, explode. The join
    * then replicates each vector into at most `nProbe` blocks (the b-side
    * moves keyed by its home label exactly as the single-block join), so
    * cost scales by nProbe × block size, never the corpus.
    */
  def knnJoinMultiProbe(embeddings: DataFrame, k: Int = 5, nProbe: Int = 2): DataFrame = {
    val cents = centroidTable(embeddings)
    // no blocks at all (empty corpus): the probe array would be a
    // zero-width VOID literal that analysis rejects — and with no rows
    // the multi-probe graph IS the single-block graph (empty)
    if (cents.isEmpty) return knnJoin(embeddings, k)
    topK(blockPairs(embeddings, probes = Some(probeLabels(cents, nProbe))), k)
  }

  /** The `nProbe` labels of `cells` nearest each row's `embedding`: the
    * fused codegen'd [[graft.functions.TopProbeLabels]] expression. The
    * centroid matrix is ONE codegen reference object, so plan size is
    * O(1) in the cell count C and scoring is a compiled O(C·dim) loop.
    *
    * Probe ranking is (-centroid cosine, label) ascending = score desc,
    * label asc — deterministic in-row. The score is floored at 6 decimals
    * like the final cosine: centroids come from a distributed double fold
    * here and a per-dim AVG in the oracle, so an unrounded near-tie could
    * rank probes differently per engine / partitioning and change the
    * candidate set. DedupVectorsSpec pins the expression row by row
    * against the one-literal-struct-per-cell array_sort formulation.
    */
  private[graft] def probeLabels(cells: Array[(Int, Array[Double])], nProbe: Int): Column = {
    val labelArr = cells.map(_._1)
    // a NULL vector nulls the expression; the array_sort form's all-null
    // scores degenerate to label-asc ranking, restored here by coalesce
    coalesce(
      graft.functions.VectorFunctions.topProbeLabels(
        col("embedding"), DIM, labelArr, cells.flatMap(_._2), nProbe),
      typedLit(labelArr.take(math.min(nProbe, labelArr.length)).toSeq))
  }

  /** The okey packing's cosine scale: [[blockPairs]] and its DuckDB
    * twin, the family's one pairs site per engine, floor cosines at
    * 10^OKEY_COS_SCALE before the oracle's integer snap.
    */
  private[graft] val OKEY_COS_SCALE: Int = 6

  /** #122 geometry-blocked kNN join — the deploy reality of the blocked
    * kNN graph: the block key is a LEARNED IVF cell ([[clusterKmeans]]'s
    * Voronoi partition), not a given label column (the same label→geometry
    * upgrade [[annIvfPqGeo]] makes for single-query ANN, applied to the
    * graph build). Boundary-straddling near neighbors that arbitrary
    * labels separate land in the SAME learned cell, and the multi-probe
    * stage then covers the residual cell boundaries — probe assignment
    * through the fused [[graft.functions.TopProbeLabels]] expression
    * against the CELL-MEAN centroids of the relabeled corpus.
    *
    * ORACLE-EXACT without a recorded model: the assignment is the deterministic
    * fixed-point Lloyd the oracle's unrolled CTE chain replays, and the
    * probe/pair/top-k chain is the mp oracle
    * parameterized over the relabeled relation — the whole composition
    * (train → assign → probe → graph) is replayed end-to-end in DuckDB.
    * The gate's fixed kCells=8 keeps every kernel on the flat scan, so
    * the replay is bit-exact; at DEPLOY-SIZED cell counts
    * ([[autoGeoCells]], C ≥ CentroidIndex.hierMin) train/assign/probe
    * run through the two-level coarse quantizer
    * ([[graft.functions.CentroidIndex]]) — deterministic and
    * rerun-stable, but a super-boundary straddler may land one cell
    * over, the same documented approximation as the #121 hierarchy and
    * the blocking itself (HierIndexSpec pins the contract).
    *
    * Scale: training is the k-means train-once contract; assignment is an
    * in-row codegen'd projection (no join — the centroids ride the
    * expression) at O(√C·dim)/row under the quantizer; the graph join is
    * the mp join keyed by cell id, cost nProbe × cell size. At 100 TB the
    * cell id is the partition column (one-off relabel materialization),
    * exactly as the geo ANN documents.
    */
  def knnJoinGeo(embeddings: DataFrame, k: Int = 5, nProbe: Int = 2,
                 kCells: Int = 8, iters: Int = 3): DataFrame = {
    val e = embeddings.filter(kmValid).select(col("vec_id"), col("embedding"))
    val cent = trainCentroids(embeddings, kCells, iters)
    if (cent.isEmpty)
      return e.select(col("vec_id").as("vec_a"), col("vec_id").as("vec_b"),
        lit(0d).as("cosine"), lit(0L).as("nn_rank")).filter(lit(false))
    knnJoinMultiProbe(
      e.select(col("vec_id"),
        kmNearest(cent).getField("cluster").as("label"), col("embedding")),
      k, nProbe)
  }

  /** One-count auto-sizing of the geometry cell count — the analog of
    * [[graft.operators.Dedup.autoJaccardCap]] for the graph family's last
    * corpus-specific constant. With the exact-pruning two-level index
    * ([[graft.functions.CentroidIndex]]) the per-row assignment cost is
    * O((√C + C/√C)·dim) ≈ O(√C·dim), so the per-row graph cost
    * O(√C·dim) + O(nProbe·(N/C)·dim) (pair join at block size N/C) is
    * minimized at C = (nProbe·N)^(2/3). Larger C =
    * smaller blocks = a pair join that grows as N^(1/3) per row instead
    * of N^(1/2); candidates per vector (recall budget) still GROW with
    * the corpus. Capped at [[maxGeoCells]] — the centroid matrix ships as
    * a broadcast VARIABLE ([[graft.functions.CentroidBundle]]), so the
    * cap is the real resource bound (broadcast budget + train-once index
    * build). Deploys call
    * this; the GATE keeps the fixed kCells=8 because the DuckDB twin's
    * unrolled-Lloyd CTE chain must inline the identical literal.
    */
  def autoGeoCells(embeddings: DataFrame, nProbe: Int = 2): Int = {
    val n = embeddings.filter(kmValid).count()
    val c = math.ceil(math.pow(nProbe.toDouble * n, 2.0 / 3.0)).toInt
    math.max(1, math.min(c, maxGeoCells()))
  }

  /** The geometry family's cell-count ceiling. Centroid matrices are
    * broadcast variables, not plan reference objects, and the two-level
    * index's super-training DISTRIBUTES past
    * [[graft.functions.CentroidIndex.distMin]] (fixed-point sums, so
    * the unordered reduce stays deterministic): the one binding
    * resource left is the BROADCAST budget — the C×dim double matrix
    * must stay a sane per-executor broadcast, ≤ 128 MiB (the bundle's
    * derived arrays add ~√C·dim doubles + 2C ints ≈ noise). At dim 64
    * that is 2^18 cells; the index build at that C is ~4·10^10
    * multiply-adds SPREAD OVER THE CLUSTER (seconds at 32 cores,
    * sub-second on a fleet), not a driver stall. Floored at 2^14, the
    * earlier fixed cap, so no corpus loses cells. At (nProbe·N)^(2/3) sizing, 2^18
    * cells covers N ≈ 6·10^7 vectors at the optimum; a 10^9-vector
    * corpus saturates the cap and re-fattens blocks to O(N/2^18) ≈ 4k
    * vectors — the residual ceiling is now purely the broadcast budget
    * (past it: shard the index per embedding-space region, out of
    * contract here; round 11 in `git show d1c0210:SCALING.md`).
    */
  private[graft] def maxGeoCells(dim: Int = DIM): Int = {
    val memCap = ((128L << 20) / (8L * dim)).toInt
    math.max(1 << 14, memCap)
  }

  /** #119 hierarchical multi-probe kNN join: identical join semantics to
    * [[knnJoinMultiProbe]], but probe ASSIGNMENT goes through a two-level
    * coarse quantizer — score ceil(sqrt(C)) super-cells first, then only
    * the member cells of the `superProbe` nearest supers. The flat
    * ranking's per-row cost is O(C·dim); the scaled-labels soak measured
    * it as the mp variant's residual super-linearity once blocking
    * cardinality grows with the corpus (`git show d1c0210:SCALING.md`).
    * This bounds it at O((sqrt(C) + superProbe·C/sqrt(C))·dim) — the
    * standard IVF coarse-quantizer hierarchy (FAISS-style), at the cost
    * of missing a cell whose super was pruned (own-label probe always
    * kept, so the single-block graph is always contained).
    *
    * Determinism: super-centroids come from the same driver Lloyd
    * contract as the PQ codebooks (init = first S cells in label order,
    * fixed iters, ties to lowest index) on the C cell centroids; both
    * ranking stages compare 6-floored cosines with index/label ASC
    * tie-breaks. The trained hierarchy ([[ProbeHierarchy]]) is a value
    * the caller can keep and re-apply.
    */
  def knnJoinMultiProbeHier(embeddings: DataFrame, k: Int = 5, nProbe: Int = 2,
                            superProbe: Int = 2): DataFrame =
    knnJoinMultiProbeHier(embeddings, trainProbeHierarchy(embeddings), k, nProbe, superProbe)

  /** The trained two-level coarse quantizer: the label cells' centroids,
    * the super-centroids and each cell's super.
    */
  final case class ProbeHierarchy(cells: Array[(Int, Array[Double])], supers: Array[Array[Double]],
                                  cellSup: Array[Int])

  /** Trains [[ProbeHierarchy]] (None when no labeled cell exists). */
  def trainProbeHierarchy(embeddings: DataFrame): Option[ProbeHierarchy] = {
    val cents = centroidTable(embeddings)
    if (cents.isEmpty) return None
    val nSup = math.ceil(math.sqrt(cents.length.toDouble)).toInt
    // driver Lloyd on the C cell-centroid vectors = trainPqCodebook with
    // one subspace (same init/iteration/tie contract), S supers
    val supFlat = trainPqCodebook(cents.map(_._2), DIM, m = 1, k = nSup, iters = 3)
    val supCents = Array.tabulate(nSup)(j => java.util.Arrays.copyOfRange(supFlat, j * DIM, (j + 1) * DIM))
    Some(ProbeHierarchy(cents, supCents, cents.map(c => nearestSq(c._2, 0, supFlat, 0, nSup, DIM))))
  }

  /** [[knnJoinMultiProbeHier]] over a trained hierarchy (None: the
    * single-block [[knnJoin]]).
    */
  def knnJoinMultiProbeHier(embeddings: DataFrame, hierarchy: Option[ProbeHierarchy], k: Int,
                            nProbe: Int, superProbe: Int): DataFrame =
    hierarchy.fold(knnJoin(embeddings, k)) { h =>
      topK(blockPairs(embeddings, probes = Some(hierProbeLabels(h, nProbe, superProbe))), k)
    }

  /** [[probeLabels]] through the two-level quantizer: BOTH ranking stages
    * fused into the codegen'd [[graft.functions.TopProbeLabelsHier]]
    * expression. Supers, cell→super map and cell centroids are codegen
    * reference objects, so plan size is O(1) in C and the per-row cost is
    * the compiled O((S + superProbe·C/S)·dim) two-stage loop.
    */
  private[graft] def hierProbeLabels(hierarchy: ProbeHierarchy, nProbe: Int,
                                     superProbe: Int): Column = {
    val ProbeHierarchy(cents, supCents, cellSup) = hierarchy
    val labelArr = cents.map(_._1)
    val cellFlat = cents.flatMap(_._2)
    // a NULL vector nulls the expression; the array_sort form's all-null
    // scores pick supers {0..superProbe-1} (sid asc) then member cells
    // label-asc — the same list, precomputed here as the coalesce arm
    val sp = math.min(superProbe, supCents.length)
    val nullFallback = cents.indices
      .filter(ci => cellSup(ci) < sp).take(nProbe).map(ci => cents(ci)._1)
    coalesce(
      graft.functions.VectorFunctions.topProbeLabelsHier(
        col("embedding"), DIM, supCents.flatten, labelArr, cellSup, cellFlat, nProbe, superProbe),
      typedLit(nullFallback))
  }

  /** The blocked kNN graph WITH its block key — the stored-MV form of
    * [[knnJoin]] (at deploy the graph is partitioned by `label`, which is
    * exactly what makes [[knnGraphIncrement]]'s surgical maintenance a
    * partition overwrite). Same join/rank contract as knnJoin; `label`
    * rides along from the a-side (functionally determined by vec_a).
    */
  def knnGraph(embeddings: DataFrame, k: Int = 5): DataFrame =
    topK(blockPairs(embeddings, withLabel = true), k)

  /** #123 incremental maintenance of the blocked kNN graph — the
    * incremental-MV discipline ([[mergeKmeansState]],
    * EventSemantics.incrementRollup) applied to the graph build: a delta
    * of new vectors must not trigger
    * a full-graph recompute. Blocked edges depend ONLY on their block's
    * members, so the delta's label set is the exact invalidation set:
    * edges of untouched blocks pass through from the stored graph
    * VERBATIM, and only the touched blocks' members (old ∪ delta) re-run
    * the pair join. Result ≡ the monolithic graph over the full corpus —
    * the gate's oracle IS the full-graph SQL, so hash equality is itself
    * the proof the maintenance is exact (the v_kmeans_incremental shape).
    *
    * The touched label set is COLLECTED once (bounded by the blocking
    * cardinality — the same train-once contract as the probe centroids —
    * and capped at [[maxGeoCells]], past which the call fails)
    * and applied as an in-row `isin` literal filter on both sides: the
    * stored graph is never joined or reshuffled, and because `label` is
    * the graph MV's partition column at deploy, the kept-edge filter is
    * PARTITION PRUNING — untouched partitions are not even read, and the
    * maintenance write is an overwrite of exactly the touched ones. Cost
    * scales with the delta's block footprint, never the corpus.
    *
    * CONTRACT — insert-only delta: `delta`'s vec_ids must be DISJOINT
    * from `oldVectors`' (new vectors, not re-ingested updates). A
    * reappearing id would be unioned twice into the touched-block rebuild
    * and emit self-pairs/duplicate edges. Updates are an upsert: anti-join
    * the stored state on vec_id first, then pass the survivors here.
    * `graft.spark.debug.checks=true` (spec suites set it) asserts the
    * precondition with one bounded count over the (small) delta.
    */
  def knnGraphIncrement(oldGraph: DataFrame, oldVectors: DataFrame,
                        delta: DataFrame, k: Int = 5): DataFrame = {
    Checks.requireDisjoint(oldVectors, delta, "vec_id", "knnGraphIncrement")
    val cap = maxGeoCells()
    val touched: Seq[Int] = Checks.boundedCollect(
        delta.filter(col("label").isNotNull).select("label").distinct(), cap,
        s"knnGraphIncrement's touched labels (maxGeoCells() = $cap)")
      .toIndexedSeq.map(_.getInt(0))
    // a delta with no labeled vectors invalidates nothing
    if (touched.isEmpty) return oldGraph
    val kept = oldGraph.filter(!col("label").isInCollection(touched))
    val affected = oldVectors.unionByName(delta)
      .filter(col("label").isInCollection(touched))
    kept.unionByName(knnGraph(affected, k))
  }

  // ---- #89 product-quantization ANN ----------------------------------------
  /** The driver-side argmin every Lloyd step and encode shares: the index
    * of the row nearest `v[vOff, vOff + len)` among the `k` rows of `len`
    * doubles at `cents[cOff..]`, by the squared L2 Σ(v − c)² folded in
    * element order; the first minimum wins (ties to the lowest index).
    */
  private def nearestSq(v: Array[Double], vOff: Int, cents: Array[Double], cOff: Int,
                        k: Int, len: Int): Int = {
    var best = 0; var bd = Double.MaxValue; var c = 0
    while (c < k) {
      var d = 0d; var j = 0
      while (j < len) { val t = v(vOff + j) - cents(cOff + c * len + j); d += t * t; j += 1 }
      if (d < bd) { bd = d; best = c }
      c += 1
    }
    best
  }

  /** Deterministic Lloyd-iteration codebook: per subspace, k centroids
    * trained on a driver-bounded sample (init = the sample's first k
    * points; fixed iteration count; empty clusters keep their centroid;
    * ties to the lowest index). Returned flattened (m × k × dim/m) for
    * [[graft.functions.PqEncode]]. Pure, order-fixed arithmetic — two runs
    * produce the identical codebook.
    */
  private[graft] def trainPqCodebook(sample: Array[Array[Double]], dim: Int,
                                     m: Int, k: Int, iters: Int): Array[Double] = {
    require(sample.nonEmpty, "PQ codebook needs a non-empty training sample")
    val sub = dim / m
    val cb = new Array[Double](m * k * sub)
    for (s <- 0 until m) {
      val off = s * k * sub
      for (c <- 0 until k) System.arraycopy(sample(c % sample.length), s * sub, cb, off + c * sub, sub)
      for (_ <- 1 to iters) {
        val sums = new Array[Double](k * sub)
        val cnt = new Array[Int](k)
        sample.foreach { v =>
          val best = nearestSq(v, s * sub, cb, off, k, sub)
          cnt(best) += 1
          var j = 0
          while (j < sub) { sums(best * sub + j) += v(s * sub + j); j += 1 }
        }
        for (c <- 0 until k if cnt(c) > 0; j <- 0 until sub)
          cb(off + c * sub + j) = sums(c * sub + j) / cnt(c)
      }
    }
    cb
  }

  // ---- shared PQ-family machinery (annPq / annPqResidual / annPqOpq) -----
  /** Column `i` of a collected row, a float array, widened to doubles. */
  private def doubles(r: Row, i: Int): Array[Double] = r.getSeq[Float](i).map(_.toDouble).toArray

  /** Deterministic bounded training sample (md5-shuffled order, vec_id
    * tiebreak) as (vec_id, label, embedding) rows, drawn from VALID
    * vectors only — a NULL/wrong-dim row would NPE the driver-side
    * collect before any codebook existed.
    */
  private def pqSample(embeddings: DataFrame, sampleN: Int): Array[Row] =
    embeddings.filter(kmValid)
      .select(col("vec_id"), col("label"), col("embedding"))
      .orderBy(md5(concat(lit("pq-sample-"), col("vec_id"))), col("vec_id"))
      .limit(sampleN)
      .collect()

  /** The query row of `qId`; kmValid guards it too, so a null /
    * wrong-dim query vector degrades to the empty result instead of
    * crashing the driver collect.
    */
  private def pqQueryRow(embeddings: DataFrame, qId: Long): Option[Array[Double]] =
    embeddings.filter(col("vec_id") === qId && kmValid)
      .select("embedding").limit(1).collect().headOption
      .map(doubles(_, 0))

  /** The plain training front of the PQ family: the sample's vectors and
    * the query row, or None when either is missing.
    */
  private def pqInputs(embeddings: DataFrame, qId: Long,
                       sampleN: Int): Option[(Array[Array[Double]], Array[Double])] = {
    val sample = pqSample(embeddings, sampleN).map(doubles(_, 2))
    val qRow = pqQueryRow(embeddings, qId)
    if (sample.isEmpty) None else qRow.map(sample -> _)
  }

  /** Degenerate corpus (nothing to train on / query vector absent): the
    * top-k of nothing is the empty result, not a crash.
    */
  private def pqEmpty(embeddings: DataFrame): DataFrame =
    embeddings.filter(lit(false))
      .select(col("vec_id"), col("label"),
        lit(0d).as("adc_cosine"), lit(0d).as("cosine"))

  /** |q|, the ADC cosine's query norm. */
  private[graft] def pqQNorm(q: Array[Double]): Double = math.sqrt(q.map(x => x * x).sum)

  /** Query LUTs per (subspace, code): dot(q_s, centroid) and |centroid|². */
  private[graft] def pqLuts(q: Array[Double], cb: Array[Double], m: Int, kk: Int)
      : (Array[Array[Double]], Array[Array[Double]]) = {
    val sub = DIM / m
    (Array.tabulate(m, kk) { (s, c) =>
      (0 until sub).map(j => q(s * sub + j) * cb((s * kk + c) * sub + j)).sum
    }, Array.tabulate(m, kk) { (s, c) =>
      (0 until sub).map(j => { val x = cb((s * kk + c) * sub + j); x * x }).sum
    })
  }

  /** `lut[code]`: the LUT entry of a 0-based code. */
  private def lutAt(lut: Column, code: Column): Column = element_at(lut, code + 1)

  /** The m-term ADC sum, folded left over the subspaces in order. */
  private def adcSum(m: Int)(term: Int => Column): Column = (0 until m).map(term).reduceLeft(_ + _)

  /** Shared ADC tail: the raw-double ADC cosine `dot / (sqrt(n2) · |q|)`
    * over `codes` (vec_id, label, embedding + code columns) → ranking →
    * rerank cut → exact-cosine top-k, twinned by the PQ oracles' shared
    * tail. Each caller groups its `dot` and `n2` terms as its oracle does.
    */
  private def adcTopK(codes: DataFrame, embeddings: DataFrame, qId: Long, k: Int, rerank: Int,
                      qNorm: Double, dot: Column, n2: Column): DataFrame =
    rankToQuery(
      codes.select(col("vec_id"), col("label"), col("embedding"),
          (dot / (sqrt(n2) * qNorm)).as("adc_cosine"))
        .orderBy(col("adc_cosine").desc, col("vec_id").asc).limit(rerank),
      embeddings, qId, k, fl(col("adc_cosine"), 6).as("adc_cosine"))

  /** The scorable corpus: everything but the query row, validity-filtered
    * exactly like the PQ oracles' source CTE (an invalid row would
    * NULL-propagate through pqEncode on this side but receive a real
    * tie-broken code in DuckDB — divergent candidate sets).
    */
  private def pqCorpus(embeddings: DataFrame, qId: Long): DataFrame =
    embeddings.filter(col("vec_id") =!= qId && kmValid)

  /** #89 product-quantization ANN — the third scale path next to IVF (#44)
    * and LSH (#83): vectors are stored as m-byte PQ code words; a query
    * scores the WHOLE corpus from two m×k lookup tables (asymmetric
    * distance), takes the top `rerank` candidates, and re-ranks only those
    * with exact cosine.
    *
    * Approximate cosine from codes alone:
    * `Σ_s lutDot[s][code_s] / (sqrt(Σ_s lutN2[s][code_s]) · |q|)` — the
    * reconstructed vector's dot and norm, no raw-vector access until the
    * re-rank. Training collects a deterministic md5-ordered sample of
    * `sampleN` vectors to the driver (how production PQ builds train:
    * bounded sample, single node, broadcast codebook) and the query row;
    * encode is the codegen'd in-row [[graft.functions.PqEncode]] over the
    * scan — zero shuffles before the TakeOrdered.
    *
    * At 100 TB: the codes relation is 8 bytes/vector (64-byte floats →
    * 8-byte codes, 32× smaller than the raw scan IVF/LSH still read for
    * verification); the ADC scan is pure in-row lookups; only `rerank`
    * rows ever touch raw vectors. The trained codebook is a deterministic
    * driver array ([[PqModel]]), so a DuckDB replay can inline it as
    * literals; the spec additionally pins exact-path equality (rerank ≥
    * corpus reproduces brute-force top-k bit-for-bit) and determinism.
    */
  def annPq(embeddings: DataFrame, qId: Long = 0L, k: Int = 10,
            m: Int = 8, codebookK: Int = 16, rerank: Int = 100,
            sampleN: Int = 256, iters: Int = 5): DataFrame =
    annPq(embeddings, trainPq(embeddings, qId, m, codebookK, sampleN, iters), k, rerank)

  /** A trained PQ-family query: the query row `q` (`qId`'s vector), the
    * subspace count `m`, `codebookK` codes per subspace and the codebooks
    * (`cb`; `cb2` the residual stage's, `rot` the OPQ rotation — empty
    * where the variant has none).
    */
  final case class PqModel(qId: Long, q: Array[Double], m: Int, codebookK: Int, cb: Array[Double],
                           cb2: Array[Double] = Array.empty, rot: Array[Double] = Array.empty)

  /** [[annPq]]'s training: None on a degenerate corpus (nothing to train
    * on / query vector absent).
    */
  def trainPq(embeddings: DataFrame, qId: Long = 0L, m: Int = 8, codebookK: Int = 16,
              sampleN: Int = 256, iters: Int = 5): Option[PqModel] = {
    pqInputs(embeddings, qId, sampleN).map { case (sample, q) =>
      PqModel(qId, q, m, codebookK, trainPqCodebook(sample, DIM, m, codebookK, iters))
    }
  }

  def annPq(embeddings: DataFrame, model: Option[PqModel], k: Int, rerank: Int): DataFrame = {
    if (model.isEmpty) return pqEmpty(embeddings)
    val PqModel(qId, q, m, codebookK, cb, _, _) = model.get
    val qNorm = pqQNorm(q)
    val (lutDot, lutN2) = pqLuts(q, cb, m, codebookK)
    val codes = pqCorpus(embeddings, qId)
      .select(col("vec_id"), col("label"), col("embedding"),
        graft.functions.VectorFunctions.pqEncode(col("embedding"), DIM, m, codebookK, cb).as("codes"))
    adcTopK(codes, embeddings, qId, k, rerank, qNorm,
      adcSum(m)(s => lutAt(lit(lutDot(s)), col("codes").getItem(s))),
      adcSum(m)(s => lutAt(lit(lutN2(s)), col("codes").getItem(s))))
  }

  /** Driver-side PQ encode, used to build residual training sets: per
    * subspace, [[nearestSq]]'s Σ(v − c)² argmin. The codegen'd
    * [[graft.functions.PqEncode]] ranks by |c|² − 2·v·c instead — the same
    * argmin in exact arithmetic, but the two roundings can split a
    * near-tie differently (VectorFunctionsSpec pins agreement on the spec
    * corpus).
    */
  private[graft] def pqEncodeLocal(v: Array[Double], cb: Array[Double],
                                   dim: Int, m: Int, k: Int): Array[Int] = {
    val sub = dim / m
    Array.tabulate(m)(s => nearestSq(v, s * sub, cb, s * k * sub, k, sub))
  }

  private[graft] def pqReconstructLocal(codes: Array[Int], cb: Array[Double],
                                            dim: Int, m: Int, k: Int): Array[Double] = {
    val sub = dim / m
    Array.tabulate(dim) { i =>
      val s = i / sub; val j = i % sub
      cb((s * k + codes(s)) * sub + j)
    }
  }

  /** #98 residual (two-stage) PQ ANN — the refinement seat the plain PQ
    * operator (#89) reserves: stage 1 quantizes the vector, stage 2
    * quantizes the RESIDUAL `v − reconstruct₁(v)` with its own codebook
    * over the same subspace split. At equal code size (half the subspaces
    * per stage, two stages), the two-stage reconstruction carries
    * strictly more information than one-stage PQ — the spec pins both the
    * reconstruction-error drop and recall@k at rerank = k.
    *
    * ADC scoring from codes alone: dot adds per-stage LUTs; the norm
    * needs the within-subspace CROSS term `2·⟨c¹, c²⟩`, a
    * driver-precomputed m×k×k literal table (subspace splits align, so
    * cross-subspace terms cancel into the per-stage norms). Everything
    * else — bounded driver training sample, in-row codegen'd encodes,
    * TakeOrdered, exact re-rank of `rerank` survivors — is the #89 shape;
    * at 100 TB the stored index is 2m sub-byte codes per vector and the
    * raw vectors are touched only by the re-rank.
    */
  def annPqResidual(embeddings: DataFrame, qId: Long = 0L, k: Int = 10,
                    m: Int = 4, codebookK: Int = 16, rerank: Int = 100,
                    sampleN: Int = 256, iters: Int = 5): DataFrame =
    annPqResidual(embeddings, trainPqResidual(embeddings, qId, m, codebookK, sampleN, iters), k, rerank)

  /** [[annPqResidual]]'s training: the stage-1 codebook `cb` and the
    * residual codebook `cb2`.
    */
  def trainPqResidual(embeddings: DataFrame, qId: Long = 0L, m: Int = 4, codebookK: Int = 16,
                      sampleN: Int = 256, iters: Int = 5): Option[PqModel] = {
    pqInputs(embeddings, qId, sampleN).map { case (sample, q) =>
      val cb1 = trainPqCodebook(sample, DIM, m, codebookK, iters)
      val residuals = sample.map { v =>
        val rec = pqReconstructLocal(pqEncodeLocal(v, cb1, DIM, m, codebookK), cb1, DIM, m, codebookK)
        Array.tabulate(DIM)(i => v(i) - rec(i))
      }
      PqModel(qId, q, m, codebookK, cb1, cb2 = trainPqCodebook(residuals, DIM, m, codebookK, iters))
    }
  }

  /** cross[s][c1*k + c2] = 2 * <cent1_s_c1, cent2_s_c2>: the residual
    * ADC norm's within-subspace cross term.
    */
  private[graft] def pqCross(model: PqModel): Array[Array[Double]] = {
    val PqModel(_, _, m, codebookK, cb1, cb2, _) = model
    val sub = DIM / m
    Array.tabulate(m) { s =>
      Array.tabulate(codebookK * codebookK) { cc =>
        val c1 = cc / codebookK; val c2 = cc % codebookK
        2d * (0 until sub).map(j =>
          cb1((s * codebookK + c1) * sub + j) * cb2((s * codebookK + c2) * sub + j)).sum
      }
    }
  }

  def annPqResidual(embeddings: DataFrame, model: Option[PqModel], k: Int, rerank: Int): DataFrame = {
    if (model.isEmpty) return pqEmpty(embeddings)
    val PqModel(qId, q, m, codebookK, cb1, cb2, _) = model.get
    val qNorm = pqQNorm(q)
    val (d1, n1) = pqLuts(q, cb1, m, codebookK)
    val (d2, n2lut) = pqLuts(q, cb2, m, codebookK)
    val cross = pqCross(model.get)
    // stage-1 reconstruction + subtract in ONE codegen'd kernel
    // ([[graft.functions.PqResidual]]): it holds cb1 once, where a
    // zip_with over element_at(lit(cb1), ...) terms carries dim COPIES of
    // the codebook literal in the plan and every task binary
    // (PqResidualSpec pins elementwise equality)
    val codes = pqCorpus(embeddings, qId)
      .select(col("vec_id"), col("label"), col("embedding"),
        graft.functions.VectorFunctions.pqEncode(col("embedding"), DIM, m, codebookK, cb1).as("c1"))
      .withColumn("c2",
        graft.functions.VectorFunctions.pqEncode(
          graft.functions.VectorFunctions.pqResidual(
            col("embedding"), col("c1"), DIM, m, codebookK, cb1),
          DIM, m, codebookK, cb2))
    def c1(s: Int) = col("c1").getItem(s)
    def c2(s: Int) = col("c2").getItem(s)
    adcTopK(codes, embeddings, qId, k, rerank, qNorm,
      adcSum(m)(s => lutAt(lit(d1(s)), c1(s)) + lutAt(lit(d2(s)), c2(s))),
      adcSum(m)(s => lutAt(lit(n1(s)), c1(s)) + lutAt(lit(n2lut(s)), c2(s)) +
        lutAt(lit(cross(s)), c1(s) * codebookK + c2(s))))
  }

  /** Mean rotated-space reconstruction error of (rot, codebook) over the
    * training sample — the OPQ objective (orthogonal rot preserves norms,
    * so errors are comparable across candidate rotations).
    */
  private[graft] def opqMse(sample: Array[Array[Double]], rot: Array[Double],
                            cb: Array[Double], dim: Int, m: Int, k: Int): Double = {
    var acc = 0d
    sample.foreach { v =>
      val rv = graft.ml.LinAlg.matvec(rot, dim, v)
      val rec = pqReconstructLocal(pqEncodeLocal(rv, cb, dim, m, k), cb, dim, m, k)
      var i = 0
      while (i < dim) { val e = rv(i) - rec(i); acc += e * e; i += 1 }
    }
    acc / math.max(1, sample.length)
  }

  /** OPQ (Ge et al., CVPR'13, non-parametric alternation): learn an
    * orthogonal rotation R jointly with the PQ codebook so the subspace
    * split cuts the ROTATED space — min_{R,C} Σ ||R·v − recon_C(R·v)||².
    * Alternate (1) Lloyd codebook on the rotated sample with (2) the
    * orthogonal Procrustes update R = polar(Σ recon·vᵀ) (LinAlg.polar =
    * U·Vᵀ of the SVD). Runs from BOTH the identity and a seeded random
    * orthogonal init and keeps the (R, C) with the lowest sample MSE —
    * identity-init iteration 0 IS plain PQ, so OPQ is never worse on the
    * training objective by construction.
    */
  private[graft] def trainOpq(sample: Array[Array[Double]], dim: Int, m: Int, k: Int,
                              iters: Int, opqIters: Int): (Array[Double], Array[Double]) = {
    import graft.ml.{LinAlg, Rng}
    var bestR: Array[Double] = null
    var bestCb: Array[Double] = null
    var bestMse = Double.MaxValue
    val inits = Seq(LinAlg.identity(dim), LinAlg.randomOrthogonal(dim, new Rng(0x09f2L)))
    inits.foreach { r0 =>
      var r = r0
      var it = 0
      while (it < opqIters) {
        val rotated = sample.map(LinAlg.matvec(r, dim, _))
        val cb = trainPqCodebook(rotated, dim, m, k, iters)
        val mse = opqMse(sample, r, cb, dim, m, k)
        if (mse < bestMse) { bestMse = mse; bestR = r; bestCb = cb }
        // Procrustes step: align the raw sample onto its reconstructions
        val mMat = new Array[Double](dim * dim)
        sample.foreach { v =>
          val rec = pqReconstructLocal(
            pqEncodeLocal(LinAlg.matvec(r, dim, v), cb, dim, m, k), cb, dim, m, k)
          var i = 0
          while (i < dim) {
            var j = 0
            while (j < dim) { mMat(i * dim + j) += rec(i) * v(j); j += 1 }
            i += 1
          }
        }
        r = LinAlg.polar(mMat, dim)
        it += 1
      }
      // the final rotation's codebook is a candidate too
      val cb = trainPqCodebook(sample.map(LinAlg.matvec(r, dim, _)), dim, m, k, iters)
      val mse = opqMse(sample, r, cb, dim, m, k)
      if (mse < bestMse) { bestMse = mse; bestR = r; bestCb = cb }
    }
    (bestR, bestCb)
  }

  /** #105 OPQ ANN — the rotation refinement seat next to the residual one
    * (#98): codes are PQ codes of `R·v` (in-row codegen'd
    * [[graft.functions.RotateVec]] feeding [[graft.functions.PqEncode]]),
    * ADC LUTs come from the rotated query, and the exact re-rank scores
    * RAW vectors (rotation preserves cosine, so the rerank needs no
    * rotation at all). Everything else is the #89 shape — bounded driver
    * training, scan + TakeOrdered, 8-byte codes at rest. Rows-only
    * (Lloyd + Procrustes not SQL-expressible); the spec pins the
    * training-objective dominance over plain PQ, rotation orthogonality,
    * Procrustes recovery of a planted rotation, and rerank ≥ corpus ≡
    * brute force.
    */
  def annPqOpq(embeddings: DataFrame, qId: Long = 0L, k: Int = 10,
               m: Int = 8, codebookK: Int = 16, rerank: Int = 100,
               sampleN: Int = 256, iters: Int = 5, opqIters: Int = 8): DataFrame =
    annPqOpq(embeddings, trainPqOpq(embeddings, qId, m, codebookK, sampleN, iters, opqIters), k, rerank)

  /** [[annPqOpq]]'s training: the rotation `rot` and the rotated-space
    * codebook `cb`.
    */
  def trainPqOpq(embeddings: DataFrame, qId: Long = 0L, m: Int = 8, codebookK: Int = 16,
                 sampleN: Int = 256, iters: Int = 5, opqIters: Int = 8): Option[PqModel] = {
    pqInputs(embeddings, qId, sampleN).map { case (sample, q) =>
      val (rot, cb) = trainOpq(sample, DIM, m, codebookK, iters, opqIters)
      PqModel(qId, q, m, codebookK, cb, rot = rot)
    }
  }

  def annPqOpq(embeddings: DataFrame, model: Option[PqModel], k: Int, rerank: Int): DataFrame = {
    if (model.isEmpty) return pqEmpty(embeddings)
    val PqModel(qId, qRaw, m, codebookK, cb, _, rot) = model.get
    val q = graft.ml.LinAlg.matvec(rot, DIM, qRaw)
    val qNorm = pqQNorm(qRaw) // = |R·q|, R orthogonal
    val (lutDot, lutN2) = pqLuts(q, cb, m, codebookK)
    val codes = pqCorpus(embeddings, qId)
      .select(col("vec_id"), col("label"), col("embedding"),
        graft.functions.VectorFunctions.pqEncode(
          graft.functions.VectorFunctions.rotateVec(col("embedding"), DIM, rot),
          DIM, m, codebookK, cb).as("codes"))
    adcTopK(codes, embeddings, qId, k, rerank, qNorm,
      adcSum(m)(s => lutAt(lit(lutDot(s)), col("codes").getItem(s))),
      adcSum(m)(s => lutAt(lit(lutN2(s)), col("codes").getItem(s))))
  }

  /** #67 symmetric int8 scalar quantization of the embedding column — the
    * storage/bandwidth step of a vector pipeline (4× smaller vectors; at
    * 100 TB the quantized table is what ANN scans). Per vector: scale =
    * max|v|/127 and the max round-trip error of floor-quantization
    * (floor, not round-half-up: both engines floor identically on IEEE
    * doubles, where rounding modes differ). Pure in-row projection — zero
    * shuffle; the quantized array itself is `transform(v, x -> floor(x /
    * scale))`, omitted from the verified output because array columns
    * don't hash-compare across engines (params + error bound pin the
    * math).
    */
  def quantizeInt8(embeddings: DataFrame): DataFrame = {
    val vd = transform(col("embedding"), x => x.cast("double"))
    embeddings
      .select(col("vec_id"), vd.as("v"))
      // distinct name: outputting `fl(...) AS scale` below would otherwise
      // CAPTURE the later scale references via lateral column alias
      // resolution, quantizing against the display-rounded scale
      .select(col("vec_id"), col("v"),
        (array_max(transform(col("v"), x => abs(x))) / lit(127d)).as("scale_raw"))
      .select(col("vec_id"),
        fl(col("scale_raw"), 6).as("scale"),
        when(col("scale_raw") === 0d, lit(0d))
          .otherwise(fl(array_max(transform(col("v"),
            x => abs(floor(x / col("scale_raw")) * col("scale_raw") - x))), 6))
          .as("max_err"))
  }

  // ---- #109 corpus-wide distributed k-means --------------------------------

  /** Fixed-point quantization scale for the centroid-update sums. At 1e6 a
    * per-cluster sum stays an exact integer double (< 2^53) up to ~1e9
    * member vectors of magnitude ~10; beyond that, lower the scale (the
    * only effect is coarser centroids — assignment stays exact either way).
    */
  private[graft] val KM_QS = 1e6

  /** Embedding-only validity — for relations that carry no vec_id (e.g.
    * a raw (ts, embedding) stream): non-null, right dimension, no null
    * elements.
    */
  private[graft] def embValid: Column =
    col("embedding").isNotNull && size(col("embedding")) === DIM &&
      size(filter(col("embedding"), x => x.isNull)) === 0

  /** A valid member vector for the k-means and kNN-graph families
    * (mirrored in the k-means oracles' `e` CTE and the graph oracles'
    * `vsrc`).
    */
  private[graft] def kmValid: Column = col("vec_id").isNotNull && embValid

  /** Fused assignment struct(cluster, dist) against `cent` — the
    * codegen'd [[graft.functions.NearestCentroid]] expression: the
    * oracle's exact IEEE sequence ((|v|² - (2·v·c_j)) + |c_j|²) per
    * centroid with the first-min (lowest-cluster) tie-break, in ONE
    * fused loop instead of k+2 array traversals per row.
    */
  private[graft] def kmNearest(cent: Array[Array[Double]]): Column =
    graft.functions.VectorFunctions.nearestCentroid(col("embedding"), DIM, cent.flatten)

  /** The Lloyd trainer both k-means inits share: persists the valid
    * (vec_id, embedding) relation, draws the init from it, runs
    * [[trainCentroidsFrom]] and releases the training cache (every action
    * on it has completed; repeated callers, e.g. the geo-cells ANN in a
    * query loop, must not accumulate corpus copies). Both centroid sets
    * are empty if the corpus has no valid vectors.
    */
  private def trainLloyd(embeddings: DataFrame, iters: Int)
                        (init: DataFrame => Array[Array[Double]]): KmeansParModel = {
    val e = embeddings.filter(kmValid).select(col("vec_id"), col("embedding"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val start = init(e)
    val cent = trainCentroidsFrom(e, start, iters)
    e.unpersist(blocking = false)
    KmeansParModel(start, cent)
  }

  /** Lloyd training loop only: returns the final centroids (empty if the
    * corpus has no valid vectors). See [[clusterKmeans]] for semantics.
    * Deterministic init: the k lowest-vec_id vectors (a top-k, not a sort).
    */
  private[graft] def trainCentroids(embeddings: DataFrame, k: Int,
                                    iters: Int): Array[Array[Double]] =
    trainLloyd(embeddings, iters)(_.orderBy("vec_id").limit(k).collect().map(doubles(_, 1))).centroids

  /** The Lloyd fixed-point loop from an arbitrary init (caller owns the
    * persistence of `e`, which must already be kmValid-filtered).
    */
  private[graft] def trainCentroidsFrom(e: DataFrame, init: Array[Array[Double]],
                                        iters: Int): Array[Array[Double]] = {
    if (init.isEmpty) return Array.empty
    var cent = init
    for (_ <- 1 to iters) {
      // the loop body IS the state build — one definition of the
      // oracle-pinned quantize/assign/aggregate sequence (kmeansState)
      val sums = kmeansState(e, cent)
        .collect()
        .map(r => r.getInt(0) -> ((r.getSeq[Double](1).toArray, r.getLong(2))))
        .toMap
      cent = cent.zipWithIndex.map { case (prev, j) =>
        sums.get(j).fold(prev) { case (s, n) => s.map(_ / n.toDouble / KM_QS) }
      }
    }
    cent
  }

  /** Corpus-wide Lloyd k-means over the embedding column — the
    * cluster-then-curate stage of SemDeDup/DSIR-style recipes (cluster the
    * corpus, then dedup/sample within clusters), distinct from the bounded-
    * sample codebook training the PQ family uses: here EVERY vector is
    * assigned, and the centroid update aggregates the FULL corpus.
    *
    * Determinism (the reason this is oracle-exact, unusual for iterative
    * k-means on doubles): centroid updates sum `floor(v*1e6)` per dimension
    * — exact integer doubles, so the distributed sum is associative and
    * independent of partitioning — and divide back only after the exact
    * sum ([[KM_QS]]). Distances are the strict-fold [[graft.functions.DotProduct]]
    * sequence (`|v|² - 2·v·c + |c|²`), bit-identical to the DuckDB oracle's
    * `list_reduce` fold; argmin ties break to the lowest cluster index on
    * both engines. Init = the k lowest-vec_id vectors (deterministic);
    * empty clusters keep their previous centroid.
    *
    * Scale: per iteration, ONE partial-aggregated shuffle of k×(dim+1)
    * doubles per map task (vec_sum combines map-side) plus a k-row collect;
    * assignment is a pure in-row projection against centroid literals —
    * zero joins, zero windows. iters+1 passes over the corpus total, the
    * canonical distributed-k-means shape.
    */
  def clusterKmeans(embeddings: DataFrame, k: Int = 8, iters: Int = 3): DataFrame =
    clusterOf(embeddings, trainCentroids(embeddings, k, iters))

  /** (vec_id, cluster, 6-floored dist) of the valid vectors against
    * `cent`; empty centroids give the empty result.
    */
  private def clusterOf(embeddings: DataFrame, cent: Array[Array[Double]]): DataFrame = {
    val e = embeddings.filter(kmValid).select(col("vec_id"), col("embedding"))
    if (cent.isEmpty)
      return e.filter(lit(false))
        .select(col("vec_id"), lit(0).cast("int").as("cluster"), lit(0d).as("dist"))
    e.select(col("vec_id"), kmNearest(cent).as("_km_nc"))
      .select(col("vec_id"), col("_km_nc.cluster").as("cluster"),
        fl(col("_km_nc.dist"), 6).as("dist"))
  }

  // ---- k-means‖ initialization (Bahmani et al. VLDB'12) --------------------

  /** Deterministic k-means‖ oversampling init: `rounds` passes, each
    * hash-sampling points with probability `l · d²(x, C) / ψ` (l = 2k).
    * Determinism where the paper has randomness:
    *  - per-point cost is the floored assignment distance re-quantized to
    *    an exact integer (`d2q`), and ψ is the exact LONG sum of those —
    *    associative, partitioning-independent (the [[KM_QS]] trick);
    *  - the coin flip is the engine-wide 60-bit md5 hash of vec_id mapped
    *    to [0,1), compared as `u · ψq < l · d2q` — per-row IEEE math on
    *    exact integers, no distributed double sums anywhere;
    *  - the final reduce-to-k is a driver-side WEIGHTED Lloyd over the
    *    bounded candidate set (weights = nearest-point counts), fixed
    *    iterations, sequential folds in candidate order.
    * Scale: each round is one corpus pass (in-row assignment against
    * broadcast candidate literals + an exact-integer aggregate); the
    * candidate set is O(l·rounds) rows collected once — the same
    * bounded-train-once contract as the PQ codebooks.
    */
  private[graft] def kmeansParInit(e: DataFrame, k: Int, rounds: Int = 3,
                                   oversample: Int = -1): Array[Array[Double]] = {
    val l = if (oversample > 0) oversample else 2 * k
    val first = e.orderBy("vec_id").limit(1).collect().map(doubles(_, 1))
    if (first.isEmpty) return Array.empty
    var cand: Array[Array[Double]] = first
    val u = (expr("conv(substring(md5(CAST(vec_id AS STRING)), 1, 15), 16, 10)")
      .cast("long").cast("double") / lit(math.pow(2, 60)))
    for (_ <- 1 to rounds) {
      val costs = e.select(col("vec_id"), col("embedding"),
          floor(kmNearest(cand).getField("dist") * KM_QS).cast("long").as("d2q"),
          u.as("u"))
      val psiQ = costs.agg(sum("d2q")).collect()(0).getLong(0)
      if (psiQ > 0) {
        // cap: E[new] = l per round; 8l bounds a pathological corpus
        val picked = costs
          .filter(col("u") * lit(psiQ.toDouble) < col("d2q").cast("double") * l)
          .orderBy("vec_id").limit(8 * l).collect().map(doubles(_, 1))
        cand = cand ++ picked
      }
    }
    if (cand.length <= k) return cand
    // weight candidates by nearest-point counts, then reduce to k on the
    // driver (bounded: |cand| rows)
    val wts = e.select(kmNearest(cand).getField("cluster").as("c"))
      .groupBy("c").agg(count(lit(1)).as("n")).collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    val weighted = cand.zipWithIndex.map { case (v, i) => (v, wts.getOrElse(i, 0L), i) }
    // init = k heaviest candidates (ties → earliest), 5 weighted Lloyd steps
    var cent = weighted.sortBy { case (_, w, i) => (-w, i) }.take(k).map(_._1)
    for (_ <- 1 to 5) {
      val sums = Array.fill(k)(new Array[Double](DIM))
      val ns = new Array[Long](k)
      val flat = cent.flatten
      weighted.foreach { case (v, w, _) =>
        if (w > 0) {
          val best = nearestSq(v, 0, flat, 0, k, DIM)
          var t = 0
          while (t < DIM) { sums(best)(t) += v(t) * w; t += 1 }
          ns(best) += w
        }
      }
      cent = cent.zipWithIndex.map { case (prev, j) =>
        if (ns(j) == 0) prev else sums(j).map(_ / ns(j).toDouble)
      }
    }
    cent
  }

  /** #117 k-means clustering with k-means‖ initialization — the
    * production init for balanced IVF cells at corpus scale (the k
    * lowest-id init of [[clusterKmeans]] can seed adjacent ids into the
    * same region; oversampling seeds proportionally to cost). Same
    * fixed-point Lloyd loop and assignment as [[clusterKmeans]].
    */
  def clusterKmeansPar(embeddings: DataFrame, k: Int = 8, rounds: Int = 3,
                       iters: Int = 3): DataFrame =
    clusterKmeansPar(embeddings, trainKmeansPar(embeddings, k, rounds, iters))

  /** k-means‖'s trained model: the init centroids and the Lloyd
    * centroids trained from them (both empty on an empty corpus).
    */
  final case class KmeansParModel(init: Array[Array[Double]], centroids: Array[Array[Double]])

  def trainKmeansPar(embeddings: DataFrame, k: Int = 8, rounds: Int = 3,
                     iters: Int = 3): KmeansParModel =
    trainLloyd(embeddings, iters)(kmeansParInit(_, k, rounds))

  def clusterKmeansPar(embeddings: DataFrame, model: KmeansParModel): DataFrame =
    clusterOf(embeddings, model.centroids)

  // ---- #114 IVF-PQ composite index -----------------------------------------

  /** IVF-PQ ANN (Jégou et al. TPAMI'11 §IV, the FAISS `IVFx,PQy` index —
    * the canonical billion-scale production shape): the coarse quantizer
    * (per-label cell centroids, collected once as a bounded relation)
    * prunes the scan to the `nProbe` cells nearest the query; within a
    * probed cell each vector is PQ-coded on its RESIDUAL v − c_cell
    * (residuals are what PQ compresses well — they drop the cell's common
    * component), scored by asymmetric-distance LUTs, and the top `rerank`
    * survivors are re-ranked with exact cosine on the raw vectors.
    *
    * Cell-dependent ADC terms (⟨c_cell, q⟩, |c_cell|², the 2⟨c_cell_s,
    * cent_s_c⟩ cross LUT) ride the BROADCAST probed-cells relation as
    * columns, so the scan side stays one broadcast-hash join + in-row
    * arithmetic. At 100 TB the cell id is the partition column — probing
    * IS partition pruning (the label filter pushes to the scan) — and the
    * stored index is m sub-byte codes per vector; raw vectors are touched
    * only by the re-rank. With `nProbe` ≥ all cells and `rerank` ≥ corpus
    * this degrades to exact brute force (the spec pins that equality).
    */
  def annIvfPq(embeddings: DataFrame, qId: Long = 0L, k: Int = 10,
               nProbe: Int = 3, m: Int = 4, codebookK: Int = 16,
               rerank: Int = 100, sampleN: Int = 256, iters: Int = 5): DataFrame =
    annIvfPq(embeddings, trainIvfPq(embeddings, qId, m, codebookK, sampleN, iters), k, nProbe, rerank)

  /** IVF-PQ's trained index: the coarse quantizer's cells (one centroid
    * per label) and the residual PQ (`pq.cb`, one codebook shared across
    * cells, the FAISS default).
    */
  final case class IvfPqModel(cells: Map[Int, Array[Double]], pq: PqModel)

  /** [[annIvfPq]]'s training: None when no cell, query row or sample exists. */
  def trainIvfPq(embeddings: DataFrame, qId: Long = 0L, m: Int = 4, codebookK: Int = 16,
                 sampleN: Int = 256, iters: Int = 5): Option[IvfPqModel] = {
    // coarse quantizer: one centroid per label cell (bounded relation),
    // collected once — the knnJoinMultiProbe contract
    val cells = centroidTable(embeddings).toMap
    val qRow = pqQueryRow(embeddings, qId)
    // label null-guard mirrors the cells aggregate — a sample row must
    // belong to a cell
    val sample = pqSample(embeddings.filter(col("label").isNotNull), sampleN)
      .map(r => (r.getInt(1), doubles(r, 2)))
    if (cells.isEmpty || qRow.isEmpty || sample.isEmpty) return None
    val residuals = sample.map { case (lbl, v) =>
      val c = cells.getOrElse(lbl, new Array[Double](DIM))
      Array.tabulate(DIM)(i => v(i) - c(i))
    }
    Some(IvfPqModel(cells, PqModel(qId, qRow.get, m, codebookK,
      trainPqCodebook(residuals, DIM, m, codebookK, iters))))
  }

  /** The `nProbe` cells nearest the query by centroid cosine (driver math
    * over the bounded cell relation; lowest label on ties), each with its
    * cell-dependent ADC terms: (label, centroid, ⟨c_cell, q⟩, |c_cell|²,
    * the 2⟨c_cell_s, cent_s_c⟩ cross LUT).
    */
  private[graft] def ivfProbed(model: IvfPqModel, nProbe: Int)
      : Seq[(Int, Array[Double], Double, Double, Array[Double])] = {
    val PqModel(_, q, m, codebookK, cb, _, _) = model.pq
    val sub = DIM / m
    def cos(a: Array[Double], b: Array[Double]): Double = {
      def dot(x: Array[Double], y: Array[Double]) =
        (0 until DIM).foldLeft(0d)((acc, i) => acc + x(i) * y(i))
      dot(a, b) / (math.sqrt(dot(a, a)) * math.sqrt(dot(b, b)))
    }
    model.cells.toSeq
      .sortBy { case (lbl, c) => (-cos(c, q), lbl) }
      .take(nProbe)
      .map { case (lbl, c) =>
        val cdotq = (0 until DIM).map(i => c(i) * q(i)).sum
        val cn2 = (0 until DIM).map(i => c(i) * c(i)).sum
        val cross = Array.tabulate(m * codebookK) { sc =>
          val s = sc / codebookK; val cc = sc % codebookK
          2d * (0 until sub).map(j => c(s * sub + j) * cb((s * codebookK + cc) * sub + j)).sum
        }
        (lbl, c, cdotq, cn2, cross)
      }
  }

  def annIvfPq(embeddings: DataFrame, model: Option[IvfPqModel], k: Int, nProbe: Int,
               rerank: Int): DataFrame = {
    if (model.isEmpty) return pqEmpty(embeddings)
    val PqModel(qId, q, m, codebookK, cb, _, _) = model.get.pq
    val qNorm = pqQNorm(q)
    // residual-ADC LUTs vs the query's own residual per cell would need a
    // per-cell dot table; sharing one residual codebook means dot(r̂, q)
    // and |r̂|² LUTs are global, while ⟨c_cell, q⟩, |c_cell|² and the
    // cross LUT ride the probed relation
    val (dLut, n2Lut) = pqLuts(q, cb, m, codebookK)
    val probed = ivfProbed(model.get, nProbe)
    val spark = embeddings.sparkSession
    import spark.implicits._
    val probedDf = probed
      .map { case (lbl, c, cdotq, cn2, cross) => (lbl, c.toSeq, cdotq, cn2, cross.toSeq) }
      .toDF("label", "cvec", "cdotq", "cn2", "cross")
    val vd = transform(col("embedding"), x => x.cast("double"))
    val codes = embeddings
      .filter(col("vec_id") =!= qId && kmValid &&
        col("label").isin(probed.map(p => Integer.valueOf(p._1)): _*))
      .join(broadcast(probedDf), "label")
      .withColumn("c2", graft.functions.VectorFunctions.pqEncode(
        zip_with(vd, col("cvec"), (x, c) => x - c), DIM, m, codebookK, cb))
    def c2(s: Int) = col("c2").getItem(s)
    adcTopK(codes, embeddings, qId, k, rerank, qNorm,
      col("cdotq") + adcSum(m)(s => lutAt(lit(dLut(s)), c2(s))),
      col("cn2") + adcSum(m)(s =>
        lutAt(lit(n2Lut(s)), c2(s)) + lutAt(col("cross"), lit(s * codebookK) + c2(s))))
  }

  // ---- #117 incremental clustering-MV maintenance --------------------------

  /** Per-cluster centroid STATE of `embeddings` against frozen `cent`
    * centroids: (cluster, sv = fixed-point per-dim sums, n). The
    * clustering analog of the additive rollup/sketch MVs: because the
    * sums are exact integer doubles ([[KM_QS]]), state built on any
    * partitioning of the corpus merges to the identical result — a new
    * ingest partition is assigned alone (one in-row projection + one
    * partial-agg shuffle over k keys) and merged into the stored state
    * without touching history. `centroidsOf` recovers the centroids;
    * periodic full re-training is the compaction step.
    */
  def kmeansState(embeddings: DataFrame, cent: Array[Array[Double]]): DataFrame = {
    import graft.functions.VectorFunctions.vecSum
    if (cent.isEmpty)
      return embeddings.filter(lit(false))
        .select(lit(0).cast("int").as("cluster"),
          typedlit(Seq.empty[Double]).as("sv"), lit(0L).as("n"))
    val quant = transform(col("embedding"), x => floor(x * lit(KM_QS)).cast("double"))
    embeddings.filter(kmValid)
      .select(quant.as("_km_q"), kmNearest(cent).getField("cluster").as("cluster"))
      .groupBy("cluster")
      .agg(vecSum(col("_km_q"), DIM).as("sv"), count(lit(1)).as("n"))
  }

  /** Merge stored state with a delta partition's state: element-wise sum
    * of the exact fixed-point vectors, counts add. Bit-exact vs a full
    * rebuild against the same frozen centroids, at any split — the spec
    * and the oracle (monolithic build vs the registry's two-partition
    * merge) both pin it.
    */
  def mergeKmeansState(stored: DataFrame, delta: DataFrame): DataFrame = {
    import graft.functions.VectorFunctions.vecSum
    stored.unionByName(delta)
      .groupBy("cluster")
      .agg(vecSum(col("sv"), DIM).as("sv"), sum("n").cast("long").as("n"))
  }

  /** Recover centroids from a maintained state (k rows — a driver array,
    * same division sequence as the training loop). `frozen` is the
    * assignment basis the state was built against: a cluster with no
    * members KEEPS its frozen centroid — the family-wide empty-cluster
    * invariant (trainCentroids folds to prev; the oracle COALESCEs) — a
    * zero-vector substitute would become a phantom attractor for vectors
    * anti-correlated with every real centroid.
    */
  def centroidsOf(state: DataFrame, frozen: Array[Array[Double]]): Array[Array[Double]] = {
    val rows = Checks.boundedCollect(state, frozen.length,
        s"centroidsOf's state (frozen.length = ${frozen.length})")
      .map(r => r.getInt(0) -> ((r.getSeq[Double](1).toArray, r.getLong(2)))).toMap
    frozen.zipWithIndex.map { case (prev, j) =>
      rows.get(j).fold(prev) { case (s, n) => s.map(_ / n.toDouble / KM_QS) }
    }
  }

  /** Cluster assignment of a relation against given centroids — THE
    * in-row assignment projection every consumer shares (the warehouse's
    * catalog-backed scoring, the spec's recovered-centroid check).
    * Invalid vectors are dropped; empty centroids degrade to the empty
    * result, the family contract.
    */
  def assignClusters(embeddings: DataFrame, cent: Array[Array[Double]]): DataFrame = {
    if (cent.isEmpty)
      return embeddings.filter(lit(false))
        .select(col("vec_id"), lit(0).cast("int").as("cluster"))
    embeddings.filter(kmValid)
      .select(col("vec_id"), kmNearest(cent).getField("cluster").as("cluster"))
  }

  /** Exploded scalar form of a state relation for the oracle compare:
    * (cluster, pos, s, n) — array-free so the hash compare is exact.
    */
  def kmeansStateExploded(state: DataFrame): DataFrame =
    state.select(col("cluster"), posexplode(col("sv")).as(Seq("pos", "sval")), col("n"))
      .select(col("cluster"), col("pos"), col("sval").cast("long").as("s"), col("n"))

  /** [[annIvfPq]] with GEOMETRY cells: the coarse quantizer is
    * [[clusterKmeans]]'s Voronoi partition instead of the arbitrary
    * `label` column — the production composition (FAISS trains its IVF
    * cells exactly this way), where probing the query's nearest cells
    * actually concentrates its true neighbors. At deploy the cluster id
    * is written once as the partition column (the join below is that
    * one-off relabeling materialization); queries then prune partitions.
    */
  def annIvfPqGeo(embeddings: DataFrame, qId: Long = 0L, k: Int = 10,
                  kCells: Int = 8, cellIters: Int = 3, nProbe: Int = 3,
                  m: Int = 4, codebookK: Int = 16, rerank: Int = 100,
                  sampleN: Int = 256, iters: Int = 5): DataFrame =
    annIvfPq(geoCells(embeddings, kCells, cellIters), qId, k, nProbe, m, codebookK, rerank,
      sampleN, iters)

  /** `embeddings` relabeled by [[clusterKmeans]]' cells: the relation
    * [[annIvfPqGeo]] indexes.
    */
  def geoCells(embeddings: DataFrame, kCells: Int = 8, cellIters: Int = 3): DataFrame = {
    val asg = clusterKmeans(embeddings, kCells, cellIters)
      .select(col("vec_id"), col("cluster").as("label"))
    embeddings.drop("label").join(asg, "vec_id")
  }

  // ---- #110 cluster-balanced curation sampling -----------------------------

  /** Cluster-balanced corpus curation: [[clusterKmeans]] assignments +
    * the deterministic hash-threshold cut of `Pipeline.sampleThreshold`,
    * stratified by CLUSTER — each semantic cluster contributes ~`quota`
    * vectors regardless of its size, the diversity-preserving sampling
    * step of cluster-then-curate recipes (dominant modes are downsampled
    * hard, rare modes survive intact).
    *
    * Scale: the per-cluster counts are a k-row aggregate broadcast back;
    * the cut itself is a stateless in-row md5 threshold — no window, no
    * sort, no shuffle beyond k-means' own training aggregates. Sample
    * sizes are binomial around the quota (the documented trade vs an
    * exact per-cluster rank, which would sort corpus/k rows per task).
    */
  def clusterSample(embeddings: DataFrame, k: Int = 8, iters: Int = 3,
                    quota: Long = 40L): DataFrame = {
    val HASH_MAX = (1L << 60).toDouble // md5Id yields 60-bit non-negative ids
    val asg = clusterKmeans(embeddings, k, iters).select("cluster", "vec_id")
    val counts = asg.groupBy("cluster").agg(count(lit(1)).as("n_c"))
    asg.join(broadcast(counts), "cluster")
      .select(col("cluster"), col("vec_id"),
        Pipeline.md5Id(col("vec_id").cast("string")).as("h"),
        (least(lit(quota).cast("double") / col("n_c").cast("double"), lit(1d)) * HASH_MAX).as("thr"))
      .filter(col("h") < col("thr"))
      .select("cluster", "vec_id")
  }

}
