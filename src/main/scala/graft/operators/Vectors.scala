package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import EventSemantics.{fl, flSql}

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

  private val DIM = 64

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

  private def dotSql(a: String, b: String) =
    s"list_reduce(list_prepend(CAST(0 AS DOUBLE), list_transform(range(1, ${DIM + 1}), i -> CAST($a[i] AS DOUBLE) * CAST($b[i] AS DOUBLE))), (acc, x) -> acc + x)"
  private def cosToSql(v: String, q: String) =
    s"${dotSql(v, q)} / (sqrt(${dotSql(v, v)}) * sqrt(${dotSql(q, q)}))"

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

  /** DuckDB twin of [[rankToQuery]] over a scan of the valid vectors
    * (`vsrc`, for the query row too); `where` adds conjuncts to the
    * query-row exclusion.
    */
  private def scanTopKSql(qId: Long, k: Int, where: String = ""): String =
    s"""WITH $vsrcCte,
       | q AS (SELECT embedding AS qv FROM vsrc WHERE vec_id = $qId)
       | SELECT e.vec_id, e.label,
       |  ${flSql(cosToSql("e.embedding", "q.qv"), 6)} AS cosine
       | FROM vsrc e CROSS JOIN q WHERE e.vec_id <> $qId$where
       | ORDER BY cosine DESC, e.vec_id ASC LIMIT $k""".stripMargin.replace("\n", "")

  /** #43 brute-force cosine top-k against the vector of `qId`. Candidates
    * and query row are the [[kmValid]] vectors: vec_dot would score a
    * wrong-dimension vector over min(len) elements, where the oracle's
    * cosine is NULL.
    */
  def annTopK(embeddings: DataFrame, qId: Long = 0L, k: Int = 10): DataFrame = {
    val valid = embeddings.filter(kmValid)
    rankToQuery(valid.filter(col("vec_id") =!= qId), valid, qId, k)
  }

  def annTopKSql(qId: Long = 0L, k: Int = 10): String = scanTopKSql(qId, k)

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

  def searchHighlightsSql(qId: Long = 0L, k: Int = 10, labels: Seq[Int] = Seq(2, 5, 7)): String =
    scanTopKSql(qId, k, s" AND e.label IN (${labels.mkString(", ")})")

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
    * order — ONE driver collect bounded by the label/cell cardinality. An
    * invalid row would hard-throw in vec_sum (wrong dim) or skew the mean
    * (vec_sum's per-slot null skip over the FULL row count vs DuckDB AVG's
    * non-null denominator); a null label must not become a centroid group.
    */
  private def centroidTable(embeddings: DataFrame): Array[(Int, Array[Double])] =
    labelCentroids(embeddings.filter(kmValid && col("label").isNotNull))
      .collect()
      .map(r => r.getInt(0) -> r.getSeq[Double](1).toArray)
      .sortBy(_._1)

  /** DuckDB twin of [[labelCentroids]] over `src` (`where` filters the
    * input rows): per-dim means in CTE `cent`, reassembled as
    * `cvecs(label, cvec)`.
    */
  private def centroidCtesSql(src: String, where: String = ""): String =
    s"""cent AS (
       |  SELECT label, i AS pos, AVG(CAST(embedding[i] AS DOUBLE)) AS cv
       |  FROM $src, (SELECT unnest(range(1, ${DIM + 1})) AS i)$where
       |  GROUP BY 1, 2),
       | cvecs AS (SELECT label, list(cv ORDER BY pos) AS cvec FROM cent GROUP BY 1)""".stripMargin

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

  def annIvfSql(qId: Long = 0L, k: Int = 10, nProbe: Int = 3): String =
    s"""WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = $qId),
       | $vsrcCte,
       | ${centroidCtesSql("vsrc")},
       | probed AS (
       |  SELECT c.label FROM cvecs c CROSS JOIN q
       |  ORDER BY ${cosToSql("c.cvec", "q.qv")} DESC, c.label ASC LIMIT $nProbe)
       | SELECT e.vec_id, e.label,
       |  ${flSql(cosToSql("e.embedding", "q.qv"), 6)} AS cosine
       | FROM vsrc e JOIN probed p ON e.label = p.label CROSS JOIN q
       | WHERE e.vec_id <> $qId
       | ORDER BY cosine DESC, e.vec_id ASC LIMIT $k""".stripMargin.replace("\n", "")

  // ---- #83 random-hyperplane LSH ANN ---------------------------------------
  private val LSH_TABLES = 4
  private val LSH_BITS = 6

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
  private def lshPlane(t: Int, j: Int): Seq[Double] =
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

  def annLshSql(qId: Long = 0L, k: Int = 10): String = {
    def planeLit(t: Int, j: Int): String =
      lshPlane(t, j).map(s => if (s > 0) "1.0" else "-1.0").mkString("[", ", ", "]")
    // same strict left-fold element order as the Spark-side vec_dot
    def signDot(t: Int, j: Int): String =
      s"list_reduce(list_prepend(CAST(0 AS DOUBLE), list_transform(range(1, ${DIM + 1}), i -> CAST(v[i] AS DOUBLE) * (${planeLit(t, j)})[i])), (acc, x) -> acc + x)"
    def bucketExpr(t: Int): String =
      (0 until LSH_BITS)
        .map(j => s"(CASE WHEN ${signDot(t, j)} >= 0 THEN ${1 << j} ELSE 0 END)")
        .mkString(" + ")
    val buckets = (0 until LSH_TABLES).map(bucketExpr).mkString("[", ", ", "]")
    val ts = (0 until LSH_TABLES).mkString("[", ", ", "]")
    s"""WITH $vsrcCte,
       | vd AS (
       |  SELECT vec_id, label, embedding,
       |   list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
       |  FROM vsrc),
       | sig AS (
       |  SELECT vec_id, label, embedding,
       |   unnest($ts) AS t, unnest($buckets) AS bucket
       |  FROM vd),
       | qb AS (SELECT t, bucket FROM sig WHERE vec_id = $qId),
       | q AS (SELECT embedding AS qv FROM vsrc WHERE vec_id = $qId),
       | cand AS (
       |  SELECT DISTINCT s.vec_id, s.label, s.embedding
       |  FROM sig s JOIN qb ON s.t = qb.t AND s.bucket = qb.bucket
       |  WHERE s.vec_id <> $qId)
       | SELECT c.vec_id, c.label,
       |  ${flSql(cosToSql("c.embedding", "q.qv"), 6)} AS cosine
       | FROM cand c CROSS JOIN q
       | ORDER BY cosine DESC, c.vec_id ASC LIMIT $k""".stripMargin.replace("\n", "")
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
    * block joins, doc_id for the shingle inverted-index pair joins —
    * r12 generalization so [[graft.operators.Dedup.ngramJaccard]] can use
    * the same guard).
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
  def knnJoinMultiProbe(embeddings: DataFrame, k: Int = 5, nProbe: Int = 2,
                        unrolled: Boolean = false): DataFrame = {
    val cents = centroidTable(embeddings)
    // no blocks at all (empty corpus): the probe array would be a
    // zero-width VOID literal that analysis rejects — and with no rows
    // the multi-probe graph IS the single-block graph (empty)
    if (cents.isEmpty) return knnJoin(embeddings, k)
    // Probe ranking is (-centroid cosine, label) ascending = score desc,
    // label asc — deterministic in-row. The score is floored at 6 decimals
    // like the final cosine: centroids come from a distributed double fold
    // here and a per-dim AVG in the oracle, so an unrounded near-tie could
    // rank probes differently per engine / partitioning and change the
    // candidate set.
    //
    // Deploy path: the fused codegen'd TopProbeLabels expression — the
    // centroid matrix is ONE codegen reference object, so plan size is
    // O(1) in the cell count C and scoring is a compiled O(C·dim) loop.
    // `unrolled = true` keeps the original one-literal-struct-per-cell
    // array_sort formulation alive purely as the spec twin that pins the
    // expression's bit-exact equivalence (it is O(C) plan nodes and
    // interpreted per-row HOF eval — a scale-killer at FAISS cell counts).
    val topLabels = if (unrolled) {
      val scoredCents = cents.map { case (l, cv) =>
        struct((-fl(cosTo(typedLit(cv.toSeq), col("embedding")), 6)).as("neg"), lit(l).as("lbl"))
      }
      transform(
        slice(array_sort(array(scoredCents.toIndexedSeq: _*)), 1, nProbe),
        x => x.getField("lbl"))
    } else {
      val labelArr = cents.map(_._1)
      val centFlat = cents.flatMap(_._2)
      // a NULL vector nulls the expression; the unrolled form's all-null
      // scores degenerate to label-asc ranking, restored here by coalesce
      coalesce(
        graft.functions.VectorFunctions.topProbeLabels(
          col("embedding"), DIM, labelArr, centFlat, nProbe),
        typedLit(labelArr.take(math.min(nProbe, labelArr.length)).toSeq))
    }
    topK(blockPairs(embeddings, probes = Some(topLabels)), k)
  }

  /** Validity predicate of the oracles' scored relations — the DuckDB twin
    * of the Spark sides' [[kmValid]] entry filter.
    */
  private def vecValidSql: String =
    s"vec_id IS NOT NULL AND embedding IS NOT NULL AND len(embedding) = $DIM" +
      " AND len(list_filter(embedding, x -> x IS NULL)) = 0"

  /** The graph-family oracles' `vsrc` CTE: the valid vectors of raw
    * `embeddings`, as [[blockPairs]] admits them.
    */
  private def vsrcCte: String =
    s"vsrc AS (SELECT vec_id, label, embedding FROM embeddings WHERE $vecValidSql)"

  /** The relation a family oracle scores for `src`, and the CTEs that
    * define it: raw `embeddings` is read through [[vsrcCte]]; a derived
    * relation (the geo relabel) is valid by construction.
    */
  private[operators] def validSrcSql(src: String): (String, Seq[String]) =
    if (src == "embeddings") ("vsrc", Seq(vsrcCte)) else (src, Nil)

  /** Shared DuckDB tail of the probe-family oracles: bounded-state
    * global top-k over a `pairs(vec_a, vec_b, cosine)` CTE
    * by ITERATED ARGMAX. Three formulations have now been measured at the
    * factor-10 soak corpus: the single ROW_NUMBER window externalizes one
    * sort over every candidate pair (>79 GB spill — VERDICT r09 item 5);
    * the r10 two-stage ordered-list aggregate bounds the final window but
    * DuckDB's `list()` state still holds every block's full candidate
    * list in the aggregate hash table (same spill exhaustion, measured
    * r10). This form is the one whose state is actually bounded: the
    * pairs are materialized ONCE with an exact BIGINT order key
    * (`round(cosine·1e6)·2^40 − vec_b` — cosine is already floored at
    * scale 6 by `flSql`, so the integer snap is lossless, and the key
    * order IS (cosine DESC, vec_b ASC); requires vec_id < 2^40, 35 bits
    * at the x30 soak), then k unrolled `max()` passes find each vec_a's
    * k-th-largest key (one BIGINT of state per vector per pass, spillable
    * sequential scans of the materialized CTE), and the final filter
    * keeps only keys ≥ that threshold — the closing ROW_NUMBER window
    * ranks ≤ k rows per vector. Bit-equal to the single window: keys are
    * distinct within a vec_a (a pair's (vec_a, vec_b) appears under
    * exactly one probe_label, and vec_b disambiguates equal cosines), so
    * the k-th max is a total-order threshold selecting exactly the
    * window's first k rows.
    *
    * KEY-DOMAIN GUARDS (r11, VERDICT item 3 + advisor): the packing is
    * only an order isomorphism while 0 ≤ vec_b < 2^40 and the cosine was
    * already floored at scale 6 (the snap `round(cosine·1e6)` is then
    * lossless). A violating corpus previously produced a WRONG oracle,
    * not an error; `scored` now raises via `error()` on an out-of-domain
    * vec_b (evaluated lazily — in-domain corpora pay one comparison per
    * pair), and Verify additionally asserts the dumped Spark side
    * ([[graft.operators.Checks.requireOkeyDomain]]). The floor scale is
    * [[OKEY_COS_SCALE]], shared with every pairs CTE's `flSql` call. The
    * closing `nn_rank <= k` filter is defensive: correctness rests on
    * keys being distinct per vec_a (true for every current pairs CTE);
    * if a future caller emitted duplicate (vec_a, vec_b) rows the filter
    * bounds the damage to the contract instead of silently emitting more
    * than k rows per vector — it operates on ≤ k+dup rows, so it costs
    * nothing. NULL-cosine pairs (a zero-norm embedding passes
    * `vecValidSql`; DuckDB x/0.0 is NULL) get a NULL okey and are
    * DROPPED by construction (max() ignores NULLs and `okey >= kth` is
    * never true for NULL) — same as the Spark side, where the
    * `cosine DESC` sort puts NULL last and the row never enters top-k
    * unless a block has < k non-null candidates, which the synthetic and
    * reference corpora (no zero-norm vectors) never produce.
    */
  private def twoStageTopKSql(k: Int, extraCols: Seq[String] = Nil): String = {
    require(k >= 1, s"top-k oracle needs k >= 1, got $k")
    val extraSel = extraCols.map(c => s"$c, ").mkString          // in scored
    val extraOut = extraCols.map(c => s"s.$c AS $c, ").mkString  // in the final select
    val ms = (2 to k).map { i =>
      s""", m$i AS (SELECT s.vec_a, max(s.okey) AS k$i FROM scored s
         |  JOIN m${i - 1} ON s.vec_a = m${i - 1}.vec_a AND s.okey < m${i - 1}.k${i - 1}
         |  GROUP BY s.vec_a)""".stripMargin
    }.mkString
    val kth = ((k to 2 by -1).map(i => s"m$i.k$i") :+ "m1.k1").mkString("coalesce(", ", ", ")")
    val ljs = (2 to k).map(i => s" LEFT JOIN m$i ON m1.vec_a = m$i.vec_a").mkString
    val scale = math.pow(10, OKEY_COS_SCALE).toLong // 6-floored cosine → lossless snap
    s""", scored AS MATERIALIZED (
       |  SELECT ${extraSel}vec_a, vec_b, cosine,
       |   CASE WHEN vec_b < 0 OR vec_b >= $OKEY_ID_BOUND
       |    THEN CAST(error('okey domain violated: vec_id must be in [0, 2^40)') AS BIGINT)
       |    ELSE CAST(round(cosine * $scale) AS BIGINT) * $OKEY_ID_BOUND - vec_b END AS okey
       |  FROM pairs),
       | m1 AS (SELECT vec_a, max(okey) AS k1 FROM scored GROUP BY vec_a)$ms,
       | th AS (SELECT m1.vec_a AS vec_a, $kth AS kth FROM m1$ljs)
       | SELECT * FROM (
       |  SELECT ${extraOut}s.vec_a AS vec_a, s.vec_b AS vec_b, s.cosine AS cosine,
       |   CAST(ROW_NUMBER() OVER (PARTITION BY s.vec_a ORDER BY s.okey DESC) AS BIGINT) AS nn_rank
       |  FROM scored s JOIN th ON s.vec_a = th.vec_a WHERE s.okey >= th.kth)
       | WHERE nn_rank <= $k""".stripMargin.replace("\n", "")
  }

  /** The okey packing's contract constants: cosines are floored at
    * scale 10^OKEY_COS_SCALE before the integer snap — the scale
    * [[blockPairs]] and [[blockPairsSql]], the family's one pairs site per
    * engine, floor at — and vec_ids must fit below 2^40,
    * guarded in `scored` (DuckDB `error()`) and on the Spark dump
    * ([[graft.operators.Checks.requireOkeyDomain]]).
    */
  private[graft] val OKEY_COS_SCALE: Int = 6
  private[graft] val OKEY_ID_BOUND: Long = 1L << 40

  /** DuckDB twin of [[blockPairs]]: (vec_a, vec_b, cosine) over the valid
    * relation `src`, pairing within a block by the id comparison `idOp`.
    * `probed` reads the block from a `probes(vec_id, probe_label)` CTE
    * (own label included) instead of the a-side label.
    */
  private[operators] def blockPairsSql(src: String, idOp: String = "<>",
                                       probed: Boolean = false,
                                       withLabel: Boolean = false): String = {
    val from =
      if (probed) s"probes p JOIN $src a ON a.vec_id = p.vec_id JOIN $src b ON b.label = p.probe_label"
      else s"$src a JOIN $src b ON a.label = b.label"
    s"SELECT ${if (withLabel) "a.label AS label, " else ""}a.vec_id AS vec_a, b.vec_id AS vec_b, " +
      s"${flSql(cosToSql("a.embedding", "b.embedding"), OKEY_COS_SCALE)} AS cosine" +
      s" FROM $from AND a.vec_id $idOp b.vec_id"
  }

  /** The kNN-graph oracle: `ctes` (each ending in ", "), the
    * [[blockPairsSql]] `pairs` CTE over `src`, then the bounded top-k tail.
    */
  private def graphSql(k: Int, ctes: String, src: String, probed: Boolean = false,
                       withLabel: Boolean = false): String =
    s"WITH ${ctes}pairs AS (${blockPairsSql(src, probed = probed, withLabel = withLabel)}) " +
      twoStageTopKSql(k, if (withLabel) Seq("label") else Nil)

  /** `src0` / `prefixCtes` parameterize the replay over a derived source
    * relation (the geo variant feeds the k-means-relabeled corpus through
    * the identical probe/pair/top-k chain).
    */
  def knnJoinMultiProbeSql(k: Int = 5, nProbe: Int = 2, src0: String = "embeddings",
                           prefixCtes: String = ""): String = {
    val (src, valid) = validSrcSql(src0)
    graphSql(k, s"""${valid.map(_ + ", ").mkString}$prefixCtes${centroidCtesSql(src, " WHERE label IS NOT NULL")},
       | ranked AS (
       |  SELECT e.vec_id, c.label AS probe_label,
       |   ROW_NUMBER() OVER (PARTITION BY e.vec_id
       |     ORDER BY ${flSql(cosToSql("c.cvec", "e.embedding"), 6)} DESC, c.label ASC) AS pr
       |  FROM $src e CROSS JOIN cvecs c),
       | probes AS (
       |  SELECT vec_id, probe_label FROM ranked WHERE pr <= $nProbe
       |  UNION SELECT vec_id, label AS probe_label FROM $src), """.stripMargin.replace("\n", ""),
      src, probed = true)
  }

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
    * ORACLE-EXACT with zero stashing: the assignment is the deterministic
    * fixed-point Lloyd the unrolled CTE chain replays (kmeansCtes →
    * kmeansAssignSql), and the probe/pair/top-k chain is the mp oracle
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
    * minimized at C = (nProbe·N)^(2/3) — the balance point the round-9
    * √(nProbe·N) sizing had under the FLAT O(C·dim) scan. Larger C =
    * smaller blocks = a pair join that grows as N^(1/3) per row instead
    * of N^(1/2); candidates per vector (recall budget) still GROW with
    * the corpus, as before. Capped at [[maxGeoCells]] — since r11 the
    * centroid matrix ships as a broadcast VARIABLE
    * ([[graft.functions.CentroidBundle]]), so the old 2^14 "sane plan
    * reference object" ceiling is gone and the cap is the real resource
    * bound (broadcast budget + train-once index build). Deploys call
    * this; the GATE keeps the fixed kCells=8 because the DuckDB twin's
    * unrolled-Lloyd CTE chain must inline the identical literal.
    */
  def autoGeoCells(embeddings: DataFrame, nProbe: Int = 2): Int = {
    val n = embeddings.filter(kmValid).count()
    val c = math.ceil(math.pow(nProbe.toDouble * n, 2.0 / 3.0)).toInt
    math.max(1, math.min(c, maxGeoCells()))
  }

  /** The geometry family's cell-count ceiling, re-derived (r11) now
    * that centroid matrices are broadcast variables, not plan reference
    * objects, and the two-level index's super-training DISTRIBUTES past
    * [[graft.functions.CentroidIndex.distMin]] (fixed-point sums, so
    * the unordered reduce stays deterministic): the one binding
    * resource left is the BROADCAST budget — the C×dim double matrix
    * must stay a sane per-executor broadcast, ≤ 128 MiB (the bundle's
    * derived arrays add ~√C·dim doubles + 2C ints ≈ noise). At dim 64
    * that is 2^18 cells; the index build at that C is ~4·10^10
    * multiply-adds SPREAD OVER THE CLUSTER (seconds at 32 cores,
    * sub-second on a fleet), no longer a driver stall. Floored at the
    * old 2^14 so no corpus regresses. At (nProbe·N)^(2/3) sizing, 2^18
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

  def knnJoinGeoSql(k: Int = 5, nProbe: Int = 2, kCells: Int = 8, iters: Int = 3): String =
    knnJoinMultiProbeSql(k, nProbe, src0 = "geo",
      prefixCtes = s"""${kmeansCtes(kCells, iters)},
        | asg AS (${kmeansAssignSql(iters)}),
        | geo AS (
        |  SELECT e.vec_id, a.cluster AS label, e.embedding
        |  FROM embeddings e JOIN asg a ON a.vec_id = e.vec_id),
        | """.stripMargin.replace("\n", ""))

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
    * tie-breaks. The trained constants (super-centroids + cell→super
    * map + cell centroids) literal-inline into a stashed oracle that
    * replays the full hierarchy in DuckDB.
    */
  def knnJoinMultiProbeHier(embeddings: DataFrame, k: Int = 5, nProbe: Int = 2,
                            superProbe: Int = 2, stashOracle: Boolean = false,
                            unrolled: Boolean = false): DataFrame = {
    import graft.OracleStash.dlist
    val cents = centroidTable(embeddings)
    if (cents.isEmpty) return knnJoin(embeddings, k)
    val nSup = math.ceil(math.sqrt(cents.length.toDouble)).toInt
    // driver Lloyd on the C cell-centroid vectors = trainPqCodebook with
    // one subspace (same init/iteration/tie contract), S supers
    val supFlat = trainPqCodebook(cents.map(_._2), DIM, m = 1, k = nSup, iters = 3)
    val supCents = Array.tabulate(nSup)(j => java.util.Arrays.copyOfRange(supFlat, j * DIM, (j + 1) * DIM))
    def nearestSup(v: Array[Double]): Int = {
      var best = 0; var bd = Double.MaxValue; var c = 0
      while (c < nSup) {
        var d = 0d; var j = 0
        while (j < DIM) { val t = v(j) - supCents(c)(j); d += t * t; j += 1 }
        if (d < bd) { bd = d; best = c }
        c += 1
      }
      best
    }
    val cellSup: Array[Int] = cents.map(c => nearestSup(c._2))
    if (stashOracle) {
      val supVals = supCents.toIndexedSeq.zipWithIndex
        .map { case (v, j) => s"($j, ${dlist(v.toSeq)})" }.mkString(", ")
      val cellVals = cents.toIndexedSeq.zipWithIndex
        .map { case ((l, cv), ci) => s"(${cellSup(ci)}, $l, ${dlist(cv.toSeq)})" }.mkString(", ")
      graft.OracleStash.put("v_knn_join_mph", knnJoinMphOracleSql(supVals, cellVals, k, nProbe, superProbe))
    }
    // Deploy path: BOTH ranking stages fused into the codegen'd
    // TopProbeLabelsHier expression — supers, cell→super map and cell
    // centroids are codegen reference objects, so plan size is O(1) in C
    // and the per-row cost is the compiled O((S + superProbe·C/S)·dim)
    // two-stage loop. `unrolled = true` keeps the original formulation
    // (per-super literal structs + one when-guarded literal entry per
    // cell) alive as the spec twin pinning bit-exact equivalence; its
    // design notes — centroids must live in expressions not data, the
    // super choice must be materialized once as a column because the
    // interpreted projection has no CSE — are retained in git history
    // and superseded by the fused expression.
    if (unrolled) {
      val supScored = supCents.toIndexedSeq.zipWithIndex.map { case (sc, j) =>
        struct((-fl(cosTo(typedLit(sc.toSeq), col("embedding")), 6)).as("neg"), lit(j).as("sid"))
      }
      val topSupers = transform(
        slice(array_sort(array(supScored: _*)), 1, superProbe), x => x.getField("sid"))
      def scoredCand(sup: Column) = filter(
        array(cents.toIndexedSeq.zipWithIndex.map { case ((l, cv), ci) =>
          when(array_contains(sup, lit(cellSup(ci))),
            struct((-fl(cosTo(typedLit(cv.toSeq), col("embedding")), 6)).as("neg"),
              lit(l).as("lbl")))
        }: _*), c => c.isNotNull)
      val topLabels = transform(
        slice(array_sort(scoredCand(col("_sup"))), 1, nProbe), x => x.getField("lbl"))
      topK(blockPairs(embeddings.withColumn("_sup", topSupers), probes = Some(topLabels)), k)
    } else {
      val labelArr = cents.map(_._1)
      val cellFlat = cents.flatMap(_._2)
      // a NULL vector nulls the expression; the unrolled form's all-null
      // scores pick supers {0..superProbe-1} (sid asc) then member cells
      // label-asc — the same list, precomputed here as the coalesce arm
      val sp = math.min(superProbe, nSup)
      val nullFallback = cents.indices
        .filter(ci => cellSup(ci) < sp).take(nProbe).map(ci => cents(ci)._1)
      val topLabels = coalesce(
        graft.functions.VectorFunctions.topProbeLabelsHier(
          col("embedding"), DIM, supFlat, labelArr, cellSup, cellFlat, nProbe, superProbe),
        typedLit(nullFallback))
      topK(blockPairs(embeddings, probes = Some(topLabels)), k)
    }
  }

  /** DuckDB twin of the hierarchy, from the literal-inlined trained
    * constants (supers, cell→super map, cell centroids): replay super
    * ranking → member-cell ranking → probes → pairs → top-k.
    */
  private def knnJoinMphOracleSql(supVals: String, cellVals: String,
                                  k: Int, nProbe: Int, superProbe: Int): String =
    graphSql(k, s"""$vsrcCte,
       | sup AS (SELECT * FROM (VALUES $supVals) AS t(sid, svec)),
       | cells AS (SELECT * FROM (VALUES $cellVals) AS t(sid, lbl, cvec)),
       | sscore AS (
       |  SELECT e.vec_id, s.sid,
       |   ROW_NUMBER() OVER (PARTITION BY e.vec_id
       |     ORDER BY ${flSql(cosToSql("s.svec", "e.embedding"), 6)} DESC, s.sid ASC) AS sr
       |  FROM vsrc e CROSS JOIN sup s),
       | cscore AS (
       |  SELECT e.vec_id, c.lbl,
       |   ROW_NUMBER() OVER (PARTITION BY e.vec_id
       |     ORDER BY ${flSql(cosToSql("c.cvec", "e.embedding"), 6)} DESC, c.lbl ASC) AS cr
       |  FROM vsrc e
       |  JOIN sscore t ON t.vec_id = e.vec_id AND t.sr <= $superProbe
       |  JOIN cells c ON c.sid = t.sid),
       | probes AS (
       |  SELECT vec_id, lbl AS probe_label FROM cscore WHERE cr <= $nProbe
       |  UNION SELECT vec_id, label AS probe_label FROM vsrc), """.stripMargin.replace("\n", ""),
      "vsrc", probed = true)

  def knnJoinSql(k: Int = 5): String = graphSql(k, s"$vsrcCte, ", "vsrc")

  /** The blocked kNN graph WITH its block key — the stored-MV form of
    * [[knnJoin]] (at deploy the graph is partitioned by `label`, which is
    * exactly what makes [[knnGraphIncrement]]'s surgical maintenance a
    * partition overwrite). Same join/rank contract as knnJoin; `label`
    * rides along from the a-side (functionally determined by vec_a).
    */
  def knnGraph(embeddings: DataFrame, k: Int = 5): DataFrame =
    topK(blockPairs(embeddings, withLabel = true), k)

  def knnGraphSql(k: Int = 5): String = graphSql(k, s"$vsrcCte, ", "vsrc", withLabel = true)

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
    * cardinality — the same train-once contract as the probe centroids)
    * and applied as an in-row `isin` literal filter on both sides: the
    * stored graph is never joined or reshuffled, and because `label` is
    * the graph MV's partition column at deploy, the kept-edge filter is
    * PARTITION PRUNING — untouched partitions are not even read, and the
    * maintenance write is an overwrite of exactly the touched ones. Cost
    * scales with the delta's block footprint, never the corpus. (The
    * join-based formulation re-ran the delta's distinct-label aggregate
    * once per broadcast site — five exchanges where zero are needed.)
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
    val touched: Seq[Int] = delta.filter(col("label").isNotNull)
      .select("label").distinct().collect().toIndexedSeq.map(_.getInt(0))
    // a delta with no labeled vectors invalidates nothing
    if (touched.isEmpty) return oldGraph
    val kept = oldGraph.filter(!col("label").isInCollection(touched))
    val affected = oldVectors.unionByName(delta)
      .filter(col("label").isInCollection(touched))
    kept.unionByName(knnGraph(affected, k))
  }

  // ---- #89 product-quantization ANN ----------------------------------------
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
    var s = 0
    while (s < m) {
      val pts = sample.map(v => java.util.Arrays.copyOfRange(v, s * sub, (s + 1) * sub))
      var cent = Array.tabulate(k)(c => pts(c % pts.length).clone())
      var it = 0
      while (it < iters) {
        val sums = Array.fill(k)(new Array[Double](sub))
        val cnt = new Array[Int](k)
        pts.foreach { p =>
          var best = 0; var bd = Double.MaxValue
          var c = 0
          while (c < k) {
            var d = 0d; var j = 0
            while (j < sub) { val t = p(j) - cent(c)(j); d += t * t; j += 1 }
            if (d < bd) { bd = d; best = c }
            c += 1
          }
          cnt(best) += 1
          var j = 0
          while (j < sub) { sums(best)(j) += p(j); j += 1 }
        }
        cent = Array.tabulate(k)(c =>
          if (cnt(c) > 0) sums(c).map(_ / cnt(c)) else cent(c))
        it += 1
      }
      var c = 0
      while (c < k) {
        System.arraycopy(cent(c), 0, cb, (s * k + c) * sub, sub)
        c += 1
      }
      s += 1
    }
    cb
  }

  // ---- shared PQ-family machinery (annPq / annPqResidual / annPqOpq) -----
  /** Deterministic bounded training sample (md5-shuffled order, vec_id
    * tiebreak), drawn from VALID vectors only — a NULL/wrong-dim row would
    * NPE the driver-side collect before any codebook existed.
    */
  private def pqSample(embeddings: DataFrame, sampleN: Int): Array[Array[Double]] =
    embeddings.filter(kmValid)
      .select(col("vec_id"), col("embedding"))
      .orderBy(md5(concat(lit("pq-sample-"), col("vec_id"))), col("vec_id"))
      .limit(sampleN)
      .collect()
      .map(_.getSeq[Float](1).map(_.toDouble).toArray)

  private def pqQueryRow(embeddings: DataFrame, qId: Long): Option[Array[Double]] =
    embeddings.filter(col("vec_id") === qId && kmValid)
      .select("embedding").limit(1).collect().headOption
      .map(_.getSeq[Float](0).map(_.toDouble).toArray)

  /** Degenerate corpus (nothing to train on / query vector absent): the
    * top-k of nothing is the empty result, not a crash.
    */
  private def pqEmpty(embeddings: DataFrame): DataFrame =
    embeddings.filter(lit(false))
      .select(col("vec_id"), col("label"),
        lit(0d).as("adc_cosine"), lit(0d).as("cosine"))

  /** Query LUTs per (subspace, code): dot(q_s, centroid) and |centroid|². */
  private def pqLuts(q: Array[Double], cb: Array[Double], m: Int, kk: Int)
      : (Array[Array[Double]], Array[Array[Double]]) = {
    val sub = DIM / m
    (Array.tabulate(m, kk) { (s, c) =>
      (0 until sub).map(j => q(s * sub + j) * cb((s * kk + c) * sub + j)).sum
    }, Array.tabulate(m, kk) { (s, c) =>
      (0 until sub).map(j => { val x = cb((s * kk + c) * sub + j); x * x }).sum
    })
  }

  /** Shared ADC tail: raw-double ADC ranking → rerank cut → exact-cosine
    * top-k — the Spark twin of [[pqTailSql]]. `scored` must carry
    * (vec_id, label, embedding, adc_cosine).
    */
  private def adcTopK(scored: DataFrame, embeddings: DataFrame, qId: Long,
                      k: Int, rerank: Int): DataFrame =
    rankToQuery(scored.orderBy(col("adc_cosine").desc, col("vec_id").asc).limit(rerank),
      embeddings, qId, k, fl(col("adc_cosine"), 6).as("adc_cosine"))

  /** The scorable corpus: everything but the query row, validity-filtered
    * exactly like [[pqSrcSql]]'s oracle CTE (an invalid row would
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
    * rows ever touch raw vectors. Oracle: the trained codebook/LUTs are
    * deterministic driver arrays, literal-inlined into a STASHED
    * hash-exact DuckDB replay (see the trained-model-oracles block below)
    * — changing the ADC formula must change [[annPqOracleSql]] in step;
    * the spec additionally pins exact-path equality (rerank ≥ corpus
    * reproduces brute-force top-k bit-for-bit) and determinism.
    */
  def annPq(embeddings: DataFrame, qId: Long = 0L, k: Int = 10,
            m: Int = 8, codebookK: Int = 16, rerank: Int = 100,
            sampleN: Int = 256, iters: Int = 5): DataFrame = {
    val sample = pqSample(embeddings, sampleN)
    val qRow = pqQueryRow(embeddings, qId)
    if (sample.isEmpty || qRow.isEmpty) return pqEmpty(embeddings)
    val cb = trainPqCodebook(sample, DIM, m, codebookK, iters)
    val q = qRow.get
    val qNorm = math.sqrt(q.map(x => x * x).sum)
    val (lutDot, lutN2) = pqLuts(q, cb, m, codebookK)
    sqlStash.put("v_ann_pq",
      annPqOracleSql(qId, k, m, codebookK, rerank, cb, lutDot, lutN2, qNorm))
    val codes = pqCorpus(embeddings, qId)
      .select(col("vec_id"), col("label"), col("embedding"),
        graft.functions.VectorFunctions.pqEncode(col("embedding"), DIM, m, codebookK, cb).as("codes"))
    val adcDot = (0 until m).map(s =>
      element_at(lit(lutDot(s)), col("codes").getItem(s) + 1)).reduce(_ + _)
    val adcN2 = (0 until m).map(s =>
      element_at(lit(lutN2(s)), col("codes").getItem(s) + 1)).reduce(_ + _)
    adcTopK(codes
      .select(col("vec_id"), col("label"), col("embedding"),
        (adcDot / (sqrt(adcN2) * qNorm)).as("adc_cosine")),
      embeddings, qId, k, rerank)
  }

  /** Driver-side PQ encode (same nearest-centroid rule as the codegen'd
    * [[graft.functions.PqEncode]]): used to build residual training sets.
    */
  private[graft] def pqEncodeLocal(v: Array[Double], cb: Array[Double],
                                       dim: Int, m: Int, k: Int): Array[Int] = {
    val sub = dim / m
    Array.tabulate(m) { s =>
      var best = 0; var bd = Double.MaxValue
      var c = 0
      while (c < k) {
        var d = 0d; var j = 0
        while (j < sub) { val t = v(s * sub + j) - cb((s * k + c) * sub + j); d += t * t; j += 1 }
        if (d < bd) { bd = d; best = c }
        c += 1
      }
      best
    }
  }

  private[graft] def pqReconstructLocal(codes: Array[Int], cb: Array[Double],
                                            dim: Int, m: Int, k: Int): Array[Double] = {
    val sub = dim / m
    Array.tabulate(dim) { i =>
      val s = i / sub; val j = i % sub
      cb((s * k + codes(s)) * sub + j)
    }
  }

  // ---- trained-model oracles (literal-inlined) -----------------------------

  /** Oracle SQL for the trained PQ family goes through [[graft.OracleStash]],
    * available once the operator has run in this JVM — Verify dumps
    * oracle_sql.json AFTER its query loop, so the driver's gate always sees
    * these. The codebooks / rotations / LUT tables are deterministic driver
    * arrays (seeded md5 sample order, fixed-count Lloyd / Procrustes with
    * sequential-fold arithmetic): every run rebuilds bit-identical values,
    * so the operator can inline them as SQL literals and DuckDB
    * independently re-runs the encode + ADC scoring + re-rank against
    * them — the [[annLsh]] hyperplane trick extended to trained constants.
    */
  private def sqlStash = graft.OracleStash
  import graft.OracleStash.{dl, dlist}

  /** |centroid|² per (subspace, code) — the same ascending-j fold as
    * [[graft.functions.PqEncode]]'s plan-time cnorm, recomputed here so the
    * oracle inlines bit-identical values.
    */
  private def pqCnorm(cb: Array[Double], m: Int, kk: Int, sub: Int): Array[Double] =
    Array.tabulate(m * kk) { sc =>
      var acc = 0d
      var j = 0
      while (j < sub) { val x = cb(sc * sub + j); acc += x * x; j += 1 }
      acc
    }

  /** CTE chain replicating [[graft.functions.PqEncode]] in DuckDB: for every
    * row of `src` (vec_id + the vector `elem` reads), the per-subspace
    * argmin code against the `cbName`/`cnName` literal CTEs via the same
    * expanded-form distance `cn[s,c] − 2·⟨v_s, c⟩` — ascending-j
    * `list_reduce` fold, first-min (lowest code) tie-break. Emits
    * `<out>_d`, `<out>_e` and `<out>` (vec_id, cs = list of m codes).
    * `elem(i)` must yield the DOUBLE vector element at 1-based index `i`
    * reading from alias `t`.
    */
  private def pqEncodeCtes(src: String, elem: String => String, m: Int, kk: Int,
                           cbName: String, cnName: String, out: String): String = {
    val sub = DIM / m
    val dot = s"list_reduce(list_prepend(CAST(0 AS DOUBLE), list_transform(range(1, ${sub + 1}), j -> ${elem(s"ss.s * $sub + j")} * $cbName.v[((ss.s * $kk + cc.c) * $sub) + j])), (acc, x) -> acc + x)"
    s"""${out}_d AS (
       |  SELECT t.vec_id, ss.s, cc.c,
       |   $cnName.v[ss.s * $kk + cc.c + 1] - 2 * $dot AS d
       |  FROM $src t, (SELECT unnest(range(0, $m)) AS s) ss,
       |   (SELECT unnest(range(0, $kk)) AS c) cc, $cbName, $cnName),
       | ${out}_e AS (
       |  SELECT vec_id, s, c FROM (
       |   SELECT vec_id, s, c, row_number() OVER (PARTITION BY vec_id, s ORDER BY d ASC, c ASC) AS rn
       |   FROM ${out}_d) WHERE rn = 1),
       | $out AS (SELECT vec_id, list(c ORDER BY s) AS cs FROM ${out}_e GROUP BY 1)""".stripMargin
  }

  /** Shared corpus CTE for the three plain-PQ oracles: the SAME validity
    * predicate as the Spark sides' [[kmValid]] (the ivfPqOracleSql shape),
    * so a NULL/wrong-dim embedding can never be scored by one engine and
    * dropped (or NULL-ranked) by the other.
    */
  private def pqSrcSql(qId: Long): String =
    s"src AS (SELECT vec_id, label, embedding FROM embeddings WHERE vec_id <> $qId AND $vecValidSql)"

  /** Shared tail: ADC ranking → rerank cut → exact-cosine top-k, identical
    * to the Spark plans' orderBy/limit sequence (raw doubles rank, floored
    * doubles display).
    */
  private def pqTailSql(tbl: String, qId: Long, k: Int, rerank: Int): String =
    s""" cand AS (SELECT * FROM adc ORDER BY adc_cosine DESC, vec_id ASC LIMIT $rerank),
       | q AS (SELECT embedding AS qv FROM $tbl WHERE vec_id = $qId)
       | SELECT c.vec_id, c.label, ${flSql("c.adc_cosine", 6)} AS adc_cosine,
       |  ${flSql(cosToSql("c.embedding", "q.qv"), 6)} AS cosine
       | FROM cand c CROSS JOIN q
       | ORDER BY cosine DESC, c.vec_id ASC LIMIT $k""".stripMargin

  private def annPqOracleSql(qId: Long, k: Int, m: Int, kk: Int, rerank: Int,
      cb: Array[Double], lutDot: Array[Array[Double]], lutN2: Array[Array[Double]],
      qNorm: Double): String = {
    val cn = pqCnorm(cb, m, kk, DIM / m)
    val dSum = (0 until m).map(s => s"(${dlist(lutDot(s))})[t.cs[${s + 1}] + 1]").mkString(" + ")
    val nSum = (0 until m).map(s => s"(${dlist(lutN2(s))})[t.cs[${s + 1}] + 1]").mkString(" + ")
    s"""WITH cb AS (SELECT ${dlist(cb)} AS v),
       | cn AS (SELECT ${dlist(cn)} AS v),
       | ${pqSrcSql(qId)},
       | ${pqEncodeCtes("src", i => s"CAST(t.embedding[$i] AS DOUBLE)", m, kk, "cb", "cn", "codes")},
       | adc AS (
       |  SELECT s.vec_id, s.label, s.embedding,
       |   ($dSum) / (sqrt($nSum) * ${dl(qNorm)}) AS adc_cosine
       |  FROM codes t JOIN src s ON s.vec_id = t.vec_id),
       |${pqTailSql("embeddings", qId, k, rerank)}""".stripMargin.replace("\n", "")
  }

  private def annPqResidualOracleSql(qId: Long, k: Int, m: Int, kk: Int, rerank: Int,
      cb1: Array[Double], cb2: Array[Double],
      d1: Array[Array[Double]], d2: Array[Array[Double]],
      n1: Array[Array[Double]], n2: Array[Array[Double]],
      cross: Array[Array[Double]], qNorm: Double): String = {
    val sub = DIM / m
    val cn1 = pqCnorm(cb1, m, kk, sub)
    val cn2 = pqCnorm(cb2, m, kk, sub)
    val dSum = (0 until m).map(s =>
      s"((${dlist(d1(s))})[t1.cs[${s + 1}] + 1] + (${dlist(d2(s))})[t2.cs[${s + 1}] + 1])").mkString(" + ")
    val nSum = (0 until m).map(s =>
      s"((${dlist(n1(s))})[t1.cs[${s + 1}] + 1] + (${dlist(n2(s))})[t2.cs[${s + 1}] + 1] + (${dlist(cross(s))})[t1.cs[${s + 1}] * $kk + t2.cs[${s + 1}] + 1])").mkString(" + ")
    // stage-1 reconstruction element at 1-based i: subspace (i-1)//sub,
    // within-subspace (i-1)%sub — the Spark recon1 index arithmetic
    val recon = s"cb1.v[((((i - 1) // $sub) * $kk + t.cs[((i - 1) // $sub) + 1]) * $sub) + ((i - 1) % $sub) + 1]"
    s"""WITH cb1 AS (SELECT ${dlist(cb1)} AS v),
       | cn1 AS (SELECT ${dlist(cn1)} AS v),
       | cb2 AS (SELECT ${dlist(cb2)} AS v),
       | cn2x AS (SELECT ${dlist(cn2)} AS v),
       | ${pqSrcSql(qId)},
       | ${pqEncodeCtes("src", i => s"CAST(t.embedding[$i] AS DOUBLE)", m, kk, "cb1", "cn1", "codes1")},
       | rsrc AS (
       |  SELECT s.vec_id, list_transform(range(1, ${DIM + 1}), i ->
       |   CAST(s.embedding[i] AS DOUBLE) - $recon) AS rv
       |  FROM codes1 t JOIN src s ON s.vec_id = t.vec_id CROSS JOIN cb1),
       | ${pqEncodeCtes("rsrc", i => s"t.rv[$i]", m, kk, "cb2", "cn2x", "codes2")},
       | adc AS (
       |  SELECT s.vec_id, s.label, s.embedding,
       |   ($dSum) / (sqrt($nSum) * ${dl(qNorm)}) AS adc_cosine
       |  FROM codes1 t1 JOIN codes2 t2 ON t1.vec_id = t2.vec_id
       |   JOIN src s ON s.vec_id = t1.vec_id),
       |${pqTailSql("embeddings", qId, k, rerank)}""".stripMargin.replace("\n", "")
  }

  private def annPqOpqOracleSql(qId: Long, k: Int, m: Int, kk: Int, rerank: Int,
      rot: Array[Double], cb: Array[Double],
      lutDot: Array[Array[Double]], lutN2: Array[Array[Double]],
      qNorm: Double): String = {
    val cn = pqCnorm(cb, m, kk, DIM / m)
    val dSum = (0 until m).map(s => s"(${dlist(lutDot(s))})[t.cs[${s + 1}] + 1]").mkString(" + ")
    val nSum = (0 until m).map(s => s"(${dlist(lutN2(s))})[t.cs[${s + 1}] + 1]").mkString(" + ")
    // R·v row r (0-based) = ascending fold over 1-based ci of
    // rot[r*DIM + ci] · v[ci] — the RotateVec kernel's exact sequence
    s"""WITH rot AS (SELECT ${dlist(rot)} AS v),
       | cb AS (SELECT ${dlist(cb)} AS v),
       | cn AS (SELECT ${dlist(cn)} AS v),
       | ${pqSrcSql(qId)},
       | rsrc AS (
       |  SELECT s.vec_id, list_transform(range(0, $DIM), r ->
       |   list_reduce(list_prepend(CAST(0 AS DOUBLE), list_transform(range(1, ${DIM + 1}),
       |    ci -> rot.v[r * $DIM + ci] * CAST(s.embedding[ci] AS DOUBLE))), (acc, x) -> acc + x)) AS rv
       |  FROM src s CROSS JOIN rot),
       | ${pqEncodeCtes("rsrc", i => s"t.rv[$i]", m, kk, "cb", "cn", "codes")},
       | adc AS (
       |  SELECT s.vec_id, s.label, s.embedding,
       |   ($dSum) / (sqrt($nSum) * ${dl(qNorm)}) AS adc_cosine
       |  FROM codes t JOIN src s ON s.vec_id = t.vec_id),
       |${pqTailSql("embeddings", qId, k, rerank)}""".stripMargin.replace("\n", "")
  }

  private def ivfPqOracleSql(withPrefix: String, tbl: String,
      qId: Long, k: Int, m: Int, kk: Int, rerank: Int,
      probed: Seq[(Int, Array[Double], Double, Double, Array[Double])],
      cb: Array[Double], dLut: Array[Array[Double]], n2Lut: Array[Array[Double]],
      qNorm: Double): String = {
    val cn = pqCnorm(cb, m, kk, DIM / m)
    val values = probed.map { case (lbl, cvec, cdotq, cn2v, cross) =>
      s"($lbl, ${dlist(cvec)}, ${dl(cdotq)}, ${dl(cn2v)}, ${dlist(cross)})"
    }.mkString(", ")
    val dSum = (0 until m).map(s => s"(${dlist(dLut(s))})[t.cs[${s + 1}] + 1]").mkString(" + ")
    val nSum = (0 until m).map(s =>
      s"((${dlist(n2Lut(s))})[t.cs[${s + 1}] + 1] + s.crs[${s * kk} + t.cs[${s + 1}] + 1])").mkString(" + ")
    s"""WITH ${withPrefix}probed AS (SELECT * FROM (VALUES $values) AS pv(label, cvec, cdotq, cn2, crs)),
       | cb AS (SELECT ${dlist(cb)} AS v),
       | cn AS (SELECT ${dlist(cn)} AS v),
       | src AS (
       |  SELECT e.vec_id, e.label, e.embedding, p.cvec, p.cdotq, p.cn2, p.crs
       |  FROM $tbl e JOIN probed p ON e.label = p.label
       |  WHERE e.vec_id <> $qId AND e.vec_id IS NOT NULL AND e.embedding IS NOT NULL
       |   AND len(e.embedding) = $DIM AND len(list_filter(e.embedding, x -> x IS NULL)) = 0),
       | rsrc AS (SELECT vec_id, list_transform(range(1, ${DIM + 1}), i ->
       |   CAST(embedding[i] AS DOUBLE) - cvec[i]) AS rv FROM src),
       | ${pqEncodeCtes("rsrc", i => s"t.rv[$i]", m, kk, "cb", "cn", "codes")},
       | adc AS (
       |  SELECT s.vec_id, s.label, s.embedding,
       |   (s.cdotq + ($dSum)) / (sqrt(s.cn2 + ($nSum)) * ${dl(qNorm)}) AS adc_cosine
       |  FROM codes t JOIN src s ON s.vec_id = t.vec_id),
       |${pqTailSql(tbl, qId, k, rerank)}""".stripMargin.replace("\n", "")
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
                    sampleN: Int = 256, iters: Int = 5): DataFrame = {
    val sub = DIM / m
    val sample = pqSample(embeddings, sampleN)
    val qRow = pqQueryRow(embeddings, qId)
    if (sample.isEmpty || qRow.isEmpty) return pqEmpty(embeddings)
    val cb1 = trainPqCodebook(sample, DIM, m, codebookK, iters)
    val residuals = sample.map { v =>
      val rec = pqReconstructLocal(pqEncodeLocal(v, cb1, DIM, m, codebookK), cb1, DIM, m, codebookK)
      Array.tabulate(DIM)(i => v(i) - rec(i))
    }
    val cb2 = trainPqCodebook(residuals, DIM, m, codebookK, iters)
    val q = qRow.get
    val qNorm = math.sqrt(q.map(x => x * x).sum)
    val (d1, n1) = pqLuts(q, cb1, m, codebookK)
    val (d2, n2lut) = pqLuts(q, cb2, m, codebookK)
    // cross[s][c1*k + c2] = 2 * <cent1_s_c1, cent2_s_c2>
    val cross = Array.tabulate(m) { s =>
      Array.tabulate(codebookK * codebookK) { cc =>
        val c1 = cc / codebookK; val c2 = cc % codebookK
        2d * (0 until sub).map(j =>
          cb1((s * codebookK + c1) * sub + j) * cb2((s * codebookK + c2) * sub + j)).sum
      }
    }
    sqlStash.put("v_ann_pq_residual",
      annPqResidualOracleSql(qId, k, m, codebookK, rerank, cb1, cb2,
        d1, d2, n1, n2lut, cross, qNorm))
    // stage-1 reconstruction + subtract fused into ONE codegen'd kernel
    // ([[graft.functions.PqResidual]]): the former zip_with over an
    // array(dim × element_at(lit(cb1), ...)) tree carried dim COPIES of
    // the codebook literal in the plan (533 KB of plan text at dim 64,
    // serialized into every task binary) and two HOF traversals per row;
    // the kernel holds cb1 once and computes the identical IEEE
    // subtracts (PqResidualSpec pins elementwise equality)
    val codes = pqCorpus(embeddings, qId)
      .select(col("vec_id"), col("label"), col("embedding"),
        graft.functions.VectorFunctions.pqEncode(col("embedding"), DIM, m, codebookK, cb1).as("c1"))
      .withColumn("c2",
        graft.functions.VectorFunctions.pqEncode(
          graft.functions.VectorFunctions.pqResidual(
            col("embedding"), col("c1"), DIM, m, codebookK, cb1),
          DIM, m, codebookK, cb2))
    val adcDot = (0 until m).map(s =>
      element_at(lit(d1(s)), col("c1").getItem(s) + 1) +
        element_at(lit(d2(s)), col("c2").getItem(s) + 1)).reduce(_ + _)
    val adcN2 = (0 until m).map(s =>
      element_at(lit(n1(s)), col("c1").getItem(s) + 1) +
        element_at(lit(n2lut(s)), col("c2").getItem(s) + 1) +
        element_at(lit(cross(s)),
          col("c1").getItem(s) * codebookK + col("c2").getItem(s) + 1)).reduce(_ + _)
    adcTopK(codes
      .select(col("vec_id"), col("label"), col("embedding"),
        (adcDot / (sqrt(adcN2) * qNorm)).as("adc_cosine")),
      embeddings, qId, k, rerank)
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
               sampleN: Int = 256, iters: Int = 5, opqIters: Int = 8): DataFrame = {
    val sample = pqSample(embeddings, sampleN)
    val qRow = pqQueryRow(embeddings, qId)
    if (sample.isEmpty || qRow.isEmpty) return pqEmpty(embeddings)
    val (rot, cb) = trainOpq(sample, DIM, m, codebookK, iters, opqIters)
    val q = graft.ml.LinAlg.matvec(rot, DIM, qRow.get)
    val qNorm = math.sqrt(qRow.get.map(x => x * x).sum) // = |R·q|, R orthogonal
    val (lutDot, lutN2) = pqLuts(q, cb, m, codebookK)
    sqlStash.put("v_ann_pq_opq",
      annPqOpqOracleSql(qId, k, m, codebookK, rerank, rot, cb, lutDot, lutN2, qNorm))
    val codes = pqCorpus(embeddings, qId)
      .select(col("vec_id"), col("label"), col("embedding"),
        graft.functions.VectorFunctions.pqEncode(
          graft.functions.VectorFunctions.rotateVec(col("embedding"), DIM, rot),
          DIM, m, codebookK, cb).as("codes"))
    val adcDot = (0 until m).map(s =>
      element_at(lit(lutDot(s)), col("codes").getItem(s) + 1)).reduce(_ + _)
    val adcN2 = (0 until m).map(s =>
      element_at(lit(lutN2(s)), col("codes").getItem(s) + 1)).reduce(_ + _)
    adcTopK(codes
      .select(col("vec_id"), col("label"), col("embedding"),
        (adcDot / (sqrt(adcN2) * qNorm)).as("adc_cosine")),
      embeddings, qId, k, rerank)
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

  val quantizeInt8Sql: String =
    s"""WITH v AS (
       |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
       |  FROM embeddings),
       | s AS (
       |  SELECT vec_id, v, list_max(list_transform(v, x -> abs(x))) / 127 AS scale FROM v)
       | SELECT vec_id, ${flSql("scale", 6)} AS scale,
       |  CASE WHEN scale = 0 THEN 0.0
       |   ELSE ${flSql("list_max(list_transform(v, x -> abs(floor(x / scale) * scale - x)))", 6)}
       |  END AS max_err
       | FROM s""".stripMargin.replace("\n", "")

  // ---- #109 corpus-wide distributed k-means --------------------------------

  /** Fixed-point quantization scale for the centroid-update sums. At 1e6 a
    * per-cluster sum stays an exact integer double (< 2^53) up to ~1e9
    * member vectors of magnitude ~10; beyond that, lower the scale (the
    * only effect is coarser centroids — assignment stays exact either way).
    */
  private val KM_QS = 1e6

  /** Embedding-only validity — for relations that carry no vec_id (e.g.
    * a raw (ts, embedding) stream): non-null, right dimension, no null
    * elements.
    */
  private[graft] def embValid: Column =
    col("embedding").isNotNull && size(col("embedding")) === DIM &&
      size(filter(col("embedding"), x => x.isNull)) === 0

  /** A valid member vector for the k-means and kNN-graph families
    * (mirrored in the e CTE of every oracle sharing [[kmeansCtes]] and in
    * the graph oracles' `vsrc` via [[vecValidSql]]).
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

  /** Lloyd training loop only: returns the final centroids (empty if the
    * corpus has no valid vectors). See [[clusterKmeans]] for semantics.
    */
  private[graft] def trainCentroids(embeddings: DataFrame, k: Int,
                                    iters: Int): Array[Array[Double]] = {
    val e = embeddings.filter(kmValid).select(col("vec_id"), col("embedding"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // deterministic init: the k lowest-vec_id vectors (a top-k, not a sort)
    val init: Array[Array[Double]] = e.orderBy("vec_id").limit(k).collect()
      .map(_.getSeq[Float](1).map(_.toDouble).toArray)
    val cent = trainCentroidsFrom(e, init, iters)
    // the centroids are plain driver arrays now — release the training
    // cache (every action on e has completed; repeated callers, e.g. the
    // geo-cells ANN in a query loop, must not accumulate corpus copies)
    e.unpersist(blocking = false)
    cent
  }

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
  def clusterKmeans(embeddings: DataFrame, k: Int = 8, iters: Int = 3): DataFrame = {
    val e = embeddings.filter(kmValid).select(col("vec_id"), col("embedding"))
    val cent = trainCentroids(embeddings, k, iters)
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
    val first = e.orderBy("vec_id").limit(1).collect()
      .map(_.getSeq[Float](1).map(_.toDouble).toArray)
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
          .orderBy("vec_id").limit(8 * l).collect()
          .map(_.getSeq[Float](1).map(_.toDouble).toArray)
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
      weighted.foreach { case (v, w, _) =>
        if (w > 0) {
          var best = 0; var bd = Double.MaxValue
          var j = 0
          while (j < k) {
            var d = 0d; var t = 0
            while (t < DIM) { val x = v(t) - cent(j)(t); d += x * x; t += 1 }
            if (d < bd) { bd = d; best = j }
            j += 1
          }
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
    * fixed-point Lloyd loop and assignment as [[clusterKmeans]]; the
    * trained init centroids are literal-inlined into a stashed oracle
    * ([[graft.OracleStash]]) and DuckDB replays the Lloyd iterations +
    * assignment from them.
    */
  def clusterKmeansPar(embeddings: DataFrame, k: Int = 8, rounds: Int = 3,
                       iters: Int = 3, stashOracle: Boolean = false): DataFrame = {
    val e = embeddings.filter(kmValid).select(col("vec_id"), col("embedding"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val init = kmeansParInit(e, k, rounds)
    val cent = trainCentroidsFrom(e, init, iters)
    e.unpersist(blocking = false)
    if (cent.isEmpty)
      return e.filter(lit(false))
        .select(col("vec_id"), lit(0).cast("int").as("cluster"), lit(0d).as("dist"))
    if (stashOracle) {
      // Trained-constant oracle boundary (documented pattern): the oracle
      // replays Lloyd + assignment from the Spark-computed INIT centroids
      // inlined as literals, so the k-means|| init itself sits OUTSIDE the
      // DuckDB check — an init regression would shift both sides
      // identically and still pass the gate. The init's quality/semantics
      // guard is KmeansSpec's cost-separation test, not this oracle.
      val c0 = init.zipWithIndex
        .map { case (v, i) => s"($i, ${dlist(v.toSeq)})" }
        .mkString("c0 AS (SELECT CAST(cl AS INT) AS cluster, c FROM (VALUES ",
          ", ", ") AS t(cl, c))")
      graft.OracleStash.put("v_cluster_kmeanspar",
        (s"WITH ${kmeansCtesWithInit(c0, iters)}\n " + kmeansAssignSql(iters)).replace("\n", ""))
    }
    e.select(col("vec_id"), kmNearest(cent).as("_km_nc"))
      .select(col("vec_id"), col("_km_nc.cluster").as("cluster"),
        fl(col("_km_nc.dist"), 6).as("dist"))
  }

  private def kmDistSql(v: String, c: String) =
    s"(${dotSql(v, v)} - 2 * ${dotSql(v, c)} + ${dotSql(c, c)})"

  /** The (vec_id, v, cluster) assignment rows against the centroids in
    * CTE `centCte` — the ONE SQL twin of the in-row assignment, used by
    * every training iteration and the state oracle's final assignment.
    */
  private def kmAssignRowsSql(centCte: String): String =
    s"""SELECT vec_id, v, cluster FROM (
       |  SELECT e.vec_id, e.v, c.cluster,
       |   row_number() OVER (PARTITION BY e.vec_id
       |    ORDER BY ${kmDistSql("e.v", "c.c")} ASC, c.cluster ASC) AS rn
       |  FROM e CROSS JOIN $centCte c) WHERE rn = 1""".stripMargin

  /** The k-means CTE chain shared by [[clusterKmeansSql]] and
    * [[clusterSampleSql]]: e (valid widened vectors), c0 (init), then per
    * iteration assign → exact fixed-point per-dim sums → centroid update
    * with empty-cluster carry-over. Final centroids land in c`iters`.
    */
  private[graft] def kmeansCtes(k: Int, iters: Int): String =
    kmeansCtesWithInit(
      s"""c0 AS (
         | SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INT) AS cluster, v AS c
         | FROM e ORDER BY vec_id LIMIT $k)""".stripMargin, iters)

  /** Same chain from an arbitrary `c0` clause (literal init centroids for
    * the trained k-means‖ oracle, lowest-id top-k for the static one).
    */
  private[graft] def kmeansCtesWithInit(c0Sql: String, iters: Int): String = {
    val sb = new StringBuilder
    sb.append(
      s"""e AS (
         | SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
         | FROM embeddings
         | WHERE vec_id IS NOT NULL
         |  AND embedding IS NOT NULL AND len(embedding) = $DIM
         |  AND len(list_filter(embedding, x -> x IS NULL)) = 0),
         | $c0Sql""".stripMargin)
    for (t <- 1 to iters) {
      sb.append(
        s""",
           | a$t AS (
           | ${kmAssignRowsSql(s"c${t - 1}")}),
           | s$t AS (
           | SELECT cluster, i AS pos,
           |  CAST(SUM(CAST(floor(v[i] * ${KM_QS.toLong}.0) AS BIGINT)) AS DOUBLE) AS sv,
           |  CAST(COUNT(*) AS DOUBLE) AS nv
           | FROM a$t, (SELECT unnest(range(1, ${DIM + 1})) AS i)
           | GROUP BY 1, 2),
           | c$t AS (
           | SELECT p.cluster, COALESCE(u.c, p.c) AS c
           | FROM c${t - 1} p LEFT JOIN (
           |  SELECT cluster, list(sv / nv / ${KM_QS.toLong}.0 ORDER BY pos) AS c
           |  FROM s$t GROUP BY 1) u
           | ON p.cluster = u.cluster)""".stripMargin)
    }
    sb.toString
  }

  /** Final-assignment select against the c`iters` centroids. */
  private[graft] def kmeansAssignSql(iters: Int): String =
    s"""SELECT vec_id, cluster, ${flSql("dd", 6)} AS dist FROM (
       |  SELECT e.vec_id, c.cluster, ${kmDistSql("e.v", "c.c")} AS dd,
       |   row_number() OVER (PARTITION BY e.vec_id
       |    ORDER BY ${kmDistSql("e.v", "c.c")} ASC, c.cluster ASC) AS rn
       |  FROM e CROSS JOIN c$iters c) WHERE rn = 1""".stripMargin

  /** DuckDB twin of [[clusterKmeans]]: the same iterations unrolled as a
    * CTE chain, ending in the final assignment.
    */
  def clusterKmeansSql(k: Int = 8, iters: Int = 3): String =
    (s"WITH ${kmeansCtes(k, iters)}\n " + kmeansAssignSql(iters)).replace("\n", "")

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
    annIvfPqImpl(embeddings, qId, k, nProbe, m, codebookK, rerank, sampleN, iters,
      oracleKey = "v_ann_ivfpq", oraclePrefix = "", oracleTbl = "embeddings")

  /** Body shared with [[annIvfPqGeo]]; `oracleKey`/`oraclePrefix`/
    * `oracleTbl` route the literal-inlined oracle ([[graft.OracleStash]]) — geo
    * prepends the k-means relabel CTEs and reads from that relation.
    */
  private def annIvfPqImpl(embeddings: DataFrame, qId: Long, k: Int,
               nProbe: Int, m: Int, codebookK: Int,
               rerank: Int, sampleN: Int, iters: Int,
               oracleKey: String, oraclePrefix: String, oracleTbl: String): DataFrame = {
    val sub = DIM / m
    val empty = embeddings.filter(lit(false))
      .select(col("vec_id"), col("label"), lit(0d).as("adc_cosine"), lit(0d).as("cosine"))

    // coarse quantizer: one centroid per label cell (bounded relation),
    // collected once — the knnJoinMultiProbe contract
    val cells = centroidTable(embeddings).toMap
    // kmValid guards the query row too: a null / wrong-dim query vector
    // degrades to the empty result instead of crashing the driver collect
    val qRow = embeddings.filter(col("vec_id") === qId && kmValid)
      .select("embedding").limit(1).collect().headOption
    // training sample with labels, seeded-hash order (the PQ contract);
    // label null-guard mirrors the cells aggregate — a sample row must
    // belong to a cell
    val sample = embeddings.filter(col("label").isNotNull && kmValid)
      .select(col("vec_id"), col("label"), col("embedding"))
      .orderBy(md5(concat(lit("pq-sample-"), col("vec_id"))), col("vec_id"))
      .limit(sampleN)
      .collect()
      .map(r => (r.getInt(1), r.getSeq[Float](2).map(_.toDouble).toArray))
    if (cells.isEmpty || qRow.isEmpty || sample.isEmpty) return empty

    val q = qRow.get.getSeq[Float](0).map(_.toDouble).toArray
    val qNorm = math.sqrt(q.map(x => x * x).sum)
    // residual codebook: one PQ shared across cells (the FAISS default)
    val residuals = sample.map { case (lbl, v) =>
      val c = cells.getOrElse(lbl, new Array[Double](DIM))
      Array.tabulate(DIM)(i => v(i) - c(i))
    }
    val cb = trainPqCodebook(residuals, DIM, m, codebookK, iters)

    // probe the nProbe cells nearest the query by centroid cosine
    // (driver math over the bounded cell relation; lowest label on ties)
    def cos(a: Array[Double], b: Array[Double]): Double = {
      def dot(x: Array[Double], y: Array[Double]) =
        (0 until DIM).foldLeft(0d)((acc, i) => acc + x(i) * y(i))
      dot(a, b) / (math.sqrt(dot(a, a)) * math.sqrt(dot(b, b)))
    }
    val probed = cells.toSeq
      .sortBy { case (lbl, c) => (-cos(c, q), lbl) }
      .take(nProbe)

    // residual-ADC LUTs vs the query's own residual per cell would need a
    // per-cell dot table; sharing one residual codebook means dot(r̂, q)
    // and |r̂|² LUTs are global, while ⟨c_cell, q⟩, |c_cell|² and the
    // 2⟨c_cell_s, cent_s_c⟩ cross LUT ride the probed relation
    val dLut = Array.tabulate(m, codebookK) { (s, c) =>
      (0 until sub).map(j => q(s * sub + j) * cb((s * codebookK + c) * sub + j)).sum
    }
    val n2Lut = Array.tabulate(m, codebookK) { (s, c) =>
      (0 until sub).map(j => { val x = cb((s * codebookK + c) * sub + j); x * x }).sum
    }
    val spark = embeddings.sparkSession
    import spark.implicits._
    val probedRows = probed.map { case (lbl, c) =>
      val cdotq = (0 until DIM).map(i => c(i) * q(i)).sum
      val cn2 = (0 until DIM).map(i => c(i) * c(i)).sum
      val cross = Array.tabulate(m * codebookK) { sc =>
        val s = sc / codebookK; val cc = sc % codebookK
        2d * (0 until sub).map(j => c(s * sub + j) * cb((s * codebookK + cc) * sub + j)).sum
      }
      (lbl, c, cdotq, cn2, cross)
    }
    val probedDf = probedRows
      .map { case (lbl, c, cdotq, cn2, cross) => (lbl, c.toSeq, cdotq, cn2, cross.toSeq) }
      .toDF("label", "cvec", "cdotq", "cn2", "cross")
    sqlStash.put(oracleKey,
      ivfPqOracleSql(oraclePrefix, oracleTbl, qId, k, m, codebookK, rerank,
        probedRows, cb, dLut, n2Lut, qNorm))

    val vd = transform(col("embedding"), x => x.cast("double"))
    val codes = embeddings
      .filter(col("vec_id") =!= qId && kmValid &&
        col("label").isin(probed.map(p => Integer.valueOf(p._1)): _*))
      .join(broadcast(probedDf), "label")
      .withColumn("c2", graft.functions.VectorFunctions.pqEncode(
        zip_with(vd, col("cvec"), (x, c) => x - c), DIM, m, codebookK, cb))
    val adcDot = col("cdotq") + (0 until m).map(s =>
      element_at(lit(dLut(s)), col("c2").getItem(s) + 1)).reduce(_ + _)
    val adcN2 = col("cn2") + (0 until m).map(s =>
      element_at(lit(n2Lut(s)), col("c2").getItem(s) + 1) +
        element_at(col("cross"), lit(s * codebookK) + col("c2").getItem(s) + 1)).reduce(_ + _)
    adcTopK(codes
      .select(col("vec_id"), col("label"), col("embedding"),
        (adcDot / (sqrt(adcN2) * qNorm)).as("adc_cosine")),
      embeddings, qId, k, rerank)
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
    val rows = state.collect()
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

  /** DuckDB oracle for the incremental-maintenance query: the MONOLITHIC
    * state build (train + assign the whole corpus at once, exact
    * fixed-point sums) — hash-equality with the registry's two-partition
    * merge IS the proof that maintenance is exact.
    */
  def kmeansStateSql(k: Int = 8, iters: Int = 3): String =
    s"""WITH ${kmeansCtes(k, iters)},
       | af AS (
       | ${kmAssignRowsSql(s"c$iters")})
       | SELECT cluster, CAST(i - 1 AS INT) AS pos,
       |  CAST(SUM(CAST(floor(v[i] * ${KM_QS.toLong}.0) AS BIGINT)) AS BIGINT) AS s,
       |  COUNT(*) AS n
       | FROM af, (SELECT unnest(range(1, ${DIM + 1})) AS i)
       | GROUP BY 1, 2""".stripMargin.replace("\n", "")

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
                  sampleN: Int = 256, iters: Int = 5): DataFrame = {
    val asg = clusterKmeans(embeddings, kCells, cellIters)
      .select(col("vec_id"), col("cluster").as("label"))
    val relabeled = embeddings.drop("label").join(asg, "vec_id")
    // oracle: the relabeled relation as CTEs (the already-proven k-means
    // unroll) feeding the same literal-inlined IVF-PQ body
    val prefix = s"${kmeansCtes(kCells, cellIters)}, " +
      s"asg AS (SELECT vec_id, cluster FROM (${kmeansAssignSql(cellIters)})), " +
      "emb2 AS (SELECT e0.vec_id, a.cluster AS label, e0.embedding " +
      "FROM embeddings e0 JOIN asg a ON e0.vec_id = a.vec_id), "
    annIvfPqImpl(relabeled, qId, k, nProbe, m, codebookK, rerank, sampleN, iters,
      oracleKey = "v_ann_ivfpq_geo", oraclePrefix = prefix.replace("\n", ""),
      oracleTbl = "emb2")
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

  def clusterSampleSql(k: Int = 8, iters: Int = 3, quota: Long = 40L): String = {
    val hashMax = (1L << 60).toDouble
    s"""WITH ${kmeansCtes(k, iters)},
       | asg AS (${kmeansAssignSql(iters)}),
       | cnt AS (SELECT cluster, COUNT(*) AS n_c FROM asg GROUP BY 1)
       | SELECT a.cluster, a.vec_id
       | FROM asg a JOIN cnt c ON a.cluster = c.cluster
       | WHERE ${Pipeline.md5IdSql("CAST(a.vec_id AS VARCHAR)")} <
       |  least(CAST($quota AS DOUBLE) / CAST(c.n_c AS DOUBLE), 1.0) * $hashMax""".stripMargin
      .replace("\n", "")
  }
}
