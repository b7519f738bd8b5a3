package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.Caches.SharedCacheOps

import EventSemantics.fl

/** Training-data deduplication suite (SURVEY §2 #38-42).
  *
  * Every operator takes the caller's corpus (doc_id, text) VERBATIM and
  * canonicalizes text internally (lower + trim, the CCNet convention) —
  * fixture planting (synthesized near/exact duplicates for oracle
  * verification) lives in [[graft.Fixtures]] and is composed in only at
  * the SparkEntry query-registry boundary.
  *
  * Scale design: every stage keys its shuffle by content (hash / band /
  * shingle), never by pair enumeration. MinHash-LSH candidates come from a
  * self-join on (band, signature) buckets; n-gram Jaccard from an
  * inverted-index join keyed by shingle (document frequency of a 3-gram is
  * tiny, so the join never explodes); SimHash from 15-bit chunk buckets.
  * Verification only ever touches candidate pairs.
  *
  * Every pin goes through [[graft.Caches]] (`sharedCache` /
  * `sharedCacheEager`, and `sharedCheckpoint` for the lineage truncations
  * of the candidate probe and the min-label supersteps), so
  * `Caches.release()` frees all of them.
  */
object Dedup {

  /** Internal canonicalization applied by every text-keyed operator. */
  private def canon(documents: DataFrame): DataFrame =
    documents.select(col("doc_id"), lower(trim(col("text"))).as("text"))

  // ---- #38 exact dedup -----------------------------------------------------
  /** sha256 hash-groupBy; keep the min doc_id of each content group. */
  def dedupExact(documents: DataFrame): DataFrame =
    canon(documents)
      .groupBy(sha2(col("text"), 256).as("content_hash"))
      .agg(min("doc_id").as("keep_id"), count(lit(1)).as("n_dups"))

  // ---- shared shingling ----------------------------------------------------
  /** Per-doc distinct shingle-id SET as an in-row ARRAY<BIGINT> — the id is
    * the first 60 md5 bits of the k-gram, so downstream joins move 8-byte
    * longs, never shingle strings. Building the set with
    * `array_distinct(transform(...))` is entirely map-side: no explode, no
    * distinct shuffle, no sizes groupBy (`size(shs)` is in-row). The
    * tokenization is hoisted into its own projection so the regex split runs
    * once per document — inlining it into the shingling lambda makes
    * Catalyst re-evaluate it per element (O(words²) splits per doc).
    *
    * The relation is PINNED before the non-empty filter: predicate pushdown
    * would otherwise substitute the whole shingle expression (split
    * included) into the filter node and compute it twice per row; the
    * InMemoryRelation is an optimization barrier, so the filter runs on the
    * stored column instead. Both dedup pipelines reuse the pin 2-4x; a
    * caller that needs one corpus's shingles for two results passes the
    * returned relation along ([[minhashState]]) instead of shingling again.
    * The pin is a `sharedCacheEager`, so [[graft.Caches.release]] frees it.
    *
    * The pin is materialized EAGERLY (one count job) before returning:
    * the consumers include broadcast-exchange builds, which Spark runs as
    * concurrent jobs — on a cold cache those jobs race, and every racer
    * recomputes the md5 shingling for the partitions it loses (measured
    * 2-5x the query's total CPU, nondeterministically, at sf0.1). One
    * bounded action serializes the population so each partition is
    * shingled exactly once; at cluster scale this is the standard
    * materialize-before-fanout barrier for a reused expensive relation.
    */
  private def shingleArrays(dd: DataFrame, k: Int): DataFrame =
    // hash-repartition by doc before the CPU-heavy shingling projection:
    // the corpus scan may have few/skewed splits (a single parquet file
    // has as many splits as row groups), and the shuffle re-spreads the
    // raw text regardless. The repartition is BY COLUMN, not BY NUMBER
    // (REPARTITION_BY_COL — AQE-coalescible): shingle+md5 CPU is
    // PROPORTIONAL TO TEXT BYTES, so AQE's byte-based advisory sizing is
    // the scale-faithful width — at corpus scale it yields advisory-sized
    // partitions with bounded per-task shingling CPU, at bench scale it
    // collapses the 5k-doc relation to a couple of partitions. The former
    // core-count pin (REPARTITION_BY_NUM at spreadCores) made EVERY
    // downstream consumer of the cache inherit 32 partitions: per-task
    // fixed cost (BytesToBytesMap page allocate/zero per HashAggregate,
    // stack-dump-attributed) burned ~100-160 ms/task on stages moving a
    // few hundred KB, ~2/3 of the capped-Jaccard query's CPU at sf0.1.
    // array_sort: the set is ORDER-INSENSITIVE to every consumer (minhash
    // min-fold, SQL-join oracles), and sortedness lets the pair-verify hot
    // path use the two-pointer SortedIntersectSize kernel instead of
    // array_intersect's per-row hash set
    // array_sort + distinct + md5 ids fused into ONE codegen'd ShingleIds
    // pass (sorted=true ≡ the former array_sort(array_distinct(transform(
    // filter(...)))) HOF chain, pinned elementwise in
    // ExpressionPropertySpec); the coalesce preserves []-on-null-text
    dd.repartition(col("doc_id"))
      .select(col("doc_id"),
        coalesce(split(col("text"), "\\s+"), array().cast("array<string>")).as("w"))
      .select(col("doc_id"),
        graft.functions.ShingleFunctions.shingleIds(col("w"), k, sorted = true).as("shs"))
      .sharedCacheEager
      .where(size(col("shs")) > 0)

  // ---- #39 MinHash + LSH ---------------------------------------------------
  /** Perm constants for [[dedupMinhash]], md5-derived exactly like the oracle SQL computes them
    * (`conv(substr(md5('a'||i), 1, 7), 16, 10)`), evaluated once on the
    * driver so each hash is a plain literal-affine column.
    */
  private def md5Const(s: String): Long = {
    val hex = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    java.lang.Long.parseLong(hex.substring(0, 7), 16)
  }

  /** (bands, rows) auto-tuning for the LSH banding at a target Jaccard
    * threshold — closes the banding's corpus/threshold-specific constant
    * the way [[autoJaccardCap]] closes the df cap. Over the divisor
    * pairs b·r = perms, minimizes the weighted S-curve error
    * `fpWeight·∫₀ᵗ P(s) ds + (1−fpWeight)·∫ᵗ¹ (1−P(s)) ds` with
    * P(candidate | J=s) = 1−(1−sʳ)ᵇ — the standard MMDS/LSH tuning
    * criterion, numerically integrated (deterministic midpoint rule).
    * The default weight is RECALL-LEANING (0.25, not the symmetric 0.5)
    * because in this operator a false-positive candidate costs only one
    * exactly-verified pair compare while a false negative silently loses
    * a true near-duplicate — and at that weight the optimum at the
    * operator's own t=0.7 / perms=32 is exactly the registered 8×4
    * (spec-pinned; the symmetric weight would pick 4×8). Deploys at
    * other thresholds call this instead of inheriting the constant.
    */
  def minhashBanding(threshold: Double, perms: Int = 32,
                     fpWeight: Double = 0.25): (Int, Int) = {
    require(perms > 0 && threshold > 0 && threshold < 1,
      s"need perms > 0 and threshold in (0,1), got $perms / $threshold")
    val pairs = (1 to perms).filter(perms % _ == 0).map(b => (b, perms / b))
    def err(b: Int, r: Int): Double = {
      val steps = 1000
      var fp = 0d
      var fn = 0d
      var i = 0
      while (i < steps) {
        val s = (i + 0.5) / steps
        val p = 1d - math.pow(1d - math.pow(s, r.toDouble), b.toDouble)
        if (s < threshold) fp += p else fn += 1d - p
        i += 1
      }
      (fpWeight * fp + (1d - fpWeight) * fn) / steps
    }
    pairs.minBy { case (b, r) => (err(b, r), b) }
  }

  /** The LSH index — one (doc_id, band, sig) row per band: the state a
    * deploy stores so near-dup dedup of a new ingest partition never
    * re-signatures the corpus ([[dedupMinhashIncrement]]).
    */
  def minhashIndex(documents: DataFrame, k: Int = 3): DataFrame =
    bandSigs(shingleArrays(canon(documents), k))

  /** The band signatures of a shingle relation. All 32 minhashes are
    * computed in ONE codegen'd pass over the in-row shingle set
    * (graft.functions.MinhashSignature — zero shuffles, no interpreted
    * per-perm lambda passes).
    *
    * Pinned eagerly: every index has two or more readers (both sides of
    * the band self-join; the delta probe and its full-index union; the
    * warehouse write), and unpinned they recompute the signatures per
    * reader (+10% executor CPU on `d_minhash_incremental` at sf0.1). The
    * barrier makes every reader plan over a materialized relation, so AQE
    * sees fixed statistics (a lazy pin let it build the band join on
    * either side by run timing).
    */
  private def bandSigs(arr: DataFrame): DataFrame = {
    val p = 2147483647L
    val aConsts = (0 until 32).map(i => md5Const(s"a$i") + 1L)
    val bConsts = (0 until 32).map(i => md5Const(s"b$i"))
    val minsig = arr.select(col("doc_id"),
      graft.functions.HashFunctions.minhashSignature(col("shs"), aConsts, bConsts, p).as("mh"))
    val bandSigs = (0 until 8).map { bnd =>
      concat_ws("-", (0 until 4).map(r => element_at(col("mh"), bnd * 4 + r + 1).cast("string")): _*)
    }
    minsig
      .select(col("doc_id"), posexplode(array(bandSigs: _*)).as(Seq("band", "sig")))
      .sharedCacheEager
  }

  /** Exact-Jaccard verification of a candidate pair set against the
    * corpus's in-row shingle sets (two-pointer kernel over the sorted
    * arrays — no inverted-index re-join, no groupBy).
    */
  private def verifyPairs(cand: DataFrame, arr: DataFrame, minJaccard: Double): DataFrame =
    cand
      .join(arr.select(col("doc_id").as("doc_a"), col("shs").as("shs_a")), "doc_a")
      .join(arr.select(col("doc_id").as("doc_b"), col("shs").as("shs_b")), "doc_b")
      .withColumn("inter",
        graft.functions.HashFunctions.sortedIntersectSize(col("shs_a"), col("shs_b")))
      .withColumn("jaccard",
        fl(col("inter").cast("double") /
          (size(col("shs_a")) + size(col("shs_b")) - col("inter")).cast("double"), 6))
      .filter(col("jaccard") >= minJaccard)
      .select("doc_a", "doc_b", "jaccard")

  /** 3-gram shingles → k=32 minhash (universal affine hashes
    * h_i = (a_i·x + b_i) mod 2^31-1 over md5-derived 31-bit shingle ids,
    * with a_i/b_i themselves md5-derived per perm — constants linear in i
    * make h_i linear in i and let one shingle stay argmin across all
    * perms, collapsing the signature) → 8 bands × 4 rows → bucket
    * self-join → exact-Jaccard verify of the candidates only.
    *
    * Scale shape: signature build is fully map-side (in-row shingle set +
    * array_min); the only shuffles are the LSH band bucket join (keyed by
    * (band, sig)) and the candidate verify joins (keyed by doc_id, with the
    * tiny candidate side broadcast).
    */
  def dedupMinhash(documents: DataFrame, k: Int = 3, minJaccard: Double = 0.7): DataFrame =
    minhashState(documents, k, minJaccard)._2

  /** A corpus's stored near-dup state — its LSH index ([[minhashIndex]])
    * and verified pairs ([[dedupMinhash]]) — off ONE shingle pass: the
    * pinned per-doc shingle sets feed the signature build and both sides
    * of the candidate verify. The bootstrap of [[dedupMinhashIncrement]]
    * and [[dedupClustersIncrement]].
    */
  def minhashState(documents: DataFrame, k: Int = 3,
                   minJaccard: Double = 0.7): (DataFrame, DataFrame) = {
    val arr = shingleArrays(canon(documents), k)
    val index = bandSigs(arr)
    val cand = index.as("a")
      .join(index.as("b"),
        col("a.band") === col("b.band") && col("a.sig") === col("b.sig") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct()
    (index, verifyPairs(cand, arr, minJaccard))
  }

  /** #124 incremental near-dup maintenance — the ingest-time reality of
    * MinHash dedup at 100 TB/day: the corpus's LSH index
    * ([[minhashIndex]]) and verified pair set are STORED; a new partition
    * is signatured ALONE and its bands probe the stored index, so the
    * only new candidates are pairs touching the delta (a doc's signature
    * depends on nothing but its own text, so old–old pairs cannot
    * change). Verification touches only the candidate docs' shingle
    * sets. Result ≡ the monolithic [[dedupMinhash]] over the full corpus
    * — the gate's oracle IS the monolithic SQL, so hash equality proves
    * the maintenance exact (the v_kmeans_incremental /
    * v_knn_join_incremental proof shape). Cost per ingest:
    * O(|delta| · bands) probe rows against an index keyed by (band, sig)
    * — never a corpus re-signature, never an old–old re-verify.
    *
    * CONTRACT — insert-only delta: `delta`'s doc_ids must be DISJOINT
    * from the stored index's (new documents, not re-ingested edits). For
    * an UPDATED doc the stored old–old pairs involving it would pass
    * through verbatim while its new text produced fresh pairs — a mix of
    * stale and fresh edges. Updates are an upsert: drop the doc's rows
    * from the stored index/pairs first, then ingest it as a new doc.
    * `graft.spark.debug.checks=true` (spec suites set it) asserts the
    * precondition with one delta-bounded semi-join count.
    */
  def dedupMinhashIncrement(oldIndex: DataFrame, oldPairs: DataFrame,
                            documents: DataFrame, delta: DataFrame,
                            k: Int = 3, minJaccard: Double = 0.7): DataFrame = {
    // raw index relation: left_semi inside the check is insensitive to
    // the stored side's per-band duplicate doc_ids, so no distinct needed
    Checks.requireDisjoint(oldIndex, delta, "doc_id", "dedupMinhashIncrement")
    // new pairs always touch the delta; stored pairs are old–old — disjoint
    oldPairs.unionByName(minhashDeltaPairs(oldIndex, documents, delta, k, minJaccard))
  }

  /** The probe step of [[dedupMinhashIncrement]] alone: the verified
    * near-dup pairs TOUCHING the delta (also the edge feed of
    * [[dedupClustersIncrement]]).
    */
  def minhashDeltaPairs(oldIndex: DataFrame, documents: DataFrame, delta: DataFrame,
                        k: Int = 3, minJaccard: Double = 0.7): DataFrame = {
    val deltaIdx = minhashIndex(delta, k)
    val fullIdx = oldIndex.unionByName(deltaIdx)
    // delta side probes the full index; least/greatest canonicalizes the
    // pair order (a delta doc's id may sort either side of an old one)
    val cand = deltaIdx.as("a")
      .join(fullIdx.as("b"),
        col("a.band") === col("b.band") && col("a.sig") === col("b.sig") &&
          col("a.doc_id") =!= col("b.doc_id"))
      .select(least(col("a.doc_id"), col("b.doc_id")).as("doc_a"),
        greatest(col("a.doc_id"), col("b.doc_id")).as("doc_b"))
      .distinct()
      // LINEAGE TRUNCATION, not just caching: cand is referenced from the
      // candidate-doc broadcast AND both verify joins, and each reference
      // EMBEDS its full lineage (two index builds over two shingle
      // pipelines) into the consumer's plan — measured 1,800+ FileScan
      // leaves and ~3x the CPU at sf0.1 when only cache-substituted. The
      // eager localCheckpoint materializes the (small by premise)
      // candidate relation on the executors and replaces the lineage with
      // one RDD scan; the downstream plan stays O(1) in the pipeline.
      .sharedCheckpoint
    // verification shingles ONLY the candidate docs (broadcast semi-join
    // prune) — re-shingling the whole corpus per ingest would be the
    // O(corpus) signature cost the stored index exists to avoid. No
    // distinct: a semi-join's build side may repeat keys, and the shuffle
    // it would cost is one more construction job
    val candDocs = cand.select(col("doc_a").as("doc_id"))
      .unionByName(cand.select(col("doc_b").as("doc_id")))
    val needed = documents.join(broadcast(candDocs), Seq("doc_id"), "left_semi")
    verifyPairs(cand, shingleArrays(canon(needed), k), minJaccard)
  }

  /** #125 incremental cluster maintenance — the last stage of the dedup
    * MV kept fresh at ingest: stored (doc_id, cluster_id) labels encode
    * the old graph's connectivity EXACTLY as a star forest (one
    * cluster→member edge per non-singleton member), so components over
    * that compressed forest ∪ the delta-touching pairs
    * ([[minhashDeltaPairs]]) ≡ components over the full pair graph — new
    * edges may MERGE old clusters, and the min-label machinery re-derives
    * the global minimum per merged component. Together with
    * [[minhashIndex]]/[[dedupMinhashIncrement]] this closes the whole
    * index → pairs → clusters dedup pipeline under incremental
    * maintenance: per ingest, work scales with the delta's probe volume
    * plus the (tiny, near-clique) dup graph, never the corpus. Oracle =
    * the MONOLITHIC clusters SQL: hash equality proves the maintenance
    * exact.
    */
  def dedupClustersIncrement(oldLabels: DataFrame, newPairs: DataFrame,
                             nodes: DataFrame, maxIterations: Int = 50,
                             smallGraphEdges: Long = 500000L): DataFrame = {
    val oldEdges = oldLabels.filter(col("doc_id") =!= col("cluster_id"))
      .select(col("cluster_id").as("doc_a"), col("doc_id").as("doc_b"))
    assignClusters(oldEdges.unionByName(newPairs.select("doc_a", "doc_b")),
      nodes.select("doc_id"), maxIterations, smallGraphEdges)
  }

  // ---- #57 dup-cluster assignment ------------------------------------------
  /** Connected components over the verified near-dup pair graph → cluster id
    * (= min doc_id of the component) and survivor flag — the step that
    * actually drops duplicates from a training corpus.
    *
    * Unlike the channel graph (communities), the doc graph's node set is
    * unbounded, so components run DISTRIBUTED: iterative min-label
    * propagation over the sparse pair list. Near-dup clusters are
    * near-cliques by construction (a group of copies all pair with each
    * other at J >= threshold), so the diameter is tiny and a fixed iteration
    * count converges; each round is one join + one partial-agg shuffle.
    *
    * `smallGraphEdges`: when the verified pair list is at most this many
    * edges, components are solved exactly by union-find on the driver and
    * the labels broadcast back — the dup GRAPH (not the corpus) is usually
    * tiny even at 100 TB, and the distributed loop's per-superstep jobs
    * dominate wall time on small graphs. Above the threshold the exact
    * distributed min-label loop runs. Both paths produce identical output.
    *
    * Default sized for an ORDINARY driver heap: 500k edges means at most
    * 1M boxed map entries for the union-find (~100 MB transient) and a
    * <=1M-row broadcast label relation (~16 MB) — safe well under a 2 GB
    * driver. Raise it only with driver memory to match (~200 bytes/edge
    * transient + 16 bytes/label broadcast).
    */
  def dedupClusters(documents: DataFrame, k: Int = 3, minJaccard: Double = 0.7,
                    maxIterations: Int = 50,
                    smallGraphEdges: Long = 500000L): DataFrame =
    dedupClustersFromPairs(dedupMinhash(documents, k, minJaccard), documents,
      maxIterations, smallGraphEdges)

  /** #57's components over a corpus's verified pairs already in hand —
    * the stored pairs table of [[graft.sources.DedupWarehouse]], or the
    * pairs of [[minhashState]] whose index the caller also keeps — so
    * the minhash lineage is not built again for the labels.
    */
  def dedupClustersFromPairs(pairs: DataFrame, nodes: DataFrame,
                             maxIterations: Int = 50,
                             smallGraphEdges: Long = 500000L): DataFrame =
    assignClusters(pairs, nodes.select("doc_id"), maxIterations, smallGraphEdges)

  /** Cluster assignment over an arbitrary near-dup pair graph — shared by
    * the minhash clusters (#57) and semantic dedup (#95). `edges` must
    * carry (doc_a, doc_b) LONG columns; `nodes` the full (doc_id) node set.
    */
  private def assignClusters(edges: DataFrame, nodes: DataFrame,
                             maxIterations: Int, smallGraphEdges: Long): DataFrame = {
    // the one pair-list pin: the edge collect below and the distributed
    // path's supersteps both read it instead of each recomputing the
    // pairs' whole lineage
    val pairs = edges.select("doc_a", "doc_b").sharedCache
    // ONE action decides the path AND fetches the small graph: collect at
    // most threshold+1 edges — if we got <= threshold, that IS the complete
    // edge list (limit is only a cap); a full count()+collect() pair would
    // cost an extra job over the cache, and a plain collect() would pull an
    // unbounded edge list onto the driver before the size were known
    val cap = math.min(smallGraphEdges, Int.MaxValue - 1L).toInt
    val capped = pairs.limit(cap + 1).collect()
    val labels: DataFrame = if (capped.length <= smallGraphEdges) {
      // ---- small-graph path: exact driver-side union-find ----------------
      val es = capped.map(r => (r.getLong(0), r.getLong(1)))
      val parent = scala.collection.mutable.Map.empty[Long, Long]
      def find(x: Long): Long = {
        var r = x
        while (parent(r) != r) r = parent(r)
        var c = x // path compression
        while (parent(c) != r) { val n = parent(c); parent(c) = r; c = n }
        r
      }
      es.foreach { case (a, b) =>
        parent.getOrElseUpdate(a, a); parent.getOrElseUpdate(b, b)
        val ra = find(a); val rb = find(b)
        if (ra != rb) { if (ra < rb) parent(rb) = ra else parent(ra) = rb }
      }
      val spark = pairs.sparkSession
      import spark.implicits._
      // ship the label rows as RDD partitions, NOT a LocalRelation: a
      // LocalRelation's rows are serialized into the physical plan, so
      // every downstream stage's task binary carried the whole label set
      // (measured 2.1/4.1 MiB task-binary warnings at sf0.1; at the 1M-row
      // contract ceiling that would be ~30 MB per task binary). As an RDD
      // the data ships once into the label-side scan's own tasks and the
      // consumer stages' binaries stay O(1). Few partitions on purpose:
      // the relation is bounded small and feeds a broadcast build.
      val rows = parent.keys.toSeq.map(n => (n, find(n)))
      val slices = math.min(math.max(1, rows.length / 65536),
        Sizing.spreadCores(spark))
      spark.createDataset(spark.sparkContext.parallelize(rows, slices))
        .toDF("doc_id", "edge_cluster")
    } else {
      minLabelComponents(pairs, maxIterations).withColumnRenamed("cluster_id", "edge_cluster")
    }
    // small path: labels fit on the driver by construction -> broadcast;
    // distributed path: the label relation can be large -> let AQE decide
    val labelSide = if (capped.length <= smallGraphEdges) broadcast(labels) else labels
    nodes
      .join(labelSide, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("edge_cluster"), col("doc_id")).as("cluster_id"))
      .withColumn("is_survivor", col("cluster_id") === col("doc_id"))
  }

  // ---- #95 semantic dedup (SemDeDup) ----------------------------------------
  /** Embedding-space semantic dedup end-to-end: the cosine near-dup pair
    * graph (#42's same-label block join) → connected components → one
    * survivor (min vec_id) per semantic cluster — the SemDeDup recipe
    * (cluster the embedding space, drop all but one per near-duplicate
    * group) composed from the library's own pieces. Output is one row per
    * vector: (vec_id, cluster_id, is_survivor).
    *
    * Scale: pair generation is the blocked join (the label is the IVF
    * cell/LSH bucket at 100 TB); components use the identical two-path
    * machinery as #57 (capped driver union-find below the edge threshold,
    * pointer-jumping min-label propagation above it).
    */
  def semDedup(embeddings: DataFrame, minCos: Double = 0.3,
               maxIterations: Int = 50, smallGraphEdges: Long = 500000L): DataFrame = {
    val pairs = embedNearDup(embeddings, minCos)
      .select(col("vec_a").as("doc_a"), col("vec_b").as("doc_b"))
    val nodes = embeddings.select(col("vec_id").as("doc_id"))
    assignClusters(pairs, nodes, maxIterations, smallGraphEdges)
      .withColumnRenamed("doc_id", "vec_id")
  }

  /** #126 geometry-blocked semantic dedup — [[semDedup]] with the blocking
    * key UPGRADED from the GIVEN label column to a LEARNED k-means cell
    * (the same label→geometry move [[graft.operators.Vectors.knnJoinGeo]]
    * makes for the kNN graph). Near-duplicates that arbitrary labels
    * separate land in the same Voronoi cell, and — the scale point — the
    * cell count can be SIZED to the corpus (`Sizing.forCorpus` /
    * `autoGeoCells`), keeping block size O(N/C) instead of letting blocks
    * grow with the corpus under a fixed label set (the one superlinear
    * soak family left in round 8).
    *
    * ORACLE-EXACT without a recorded model: training is the deterministic
    * fixed-point Lloyd the oracle's unrolled CTE chain replays (the
    * knnJoinGeo machinery verbatim), then the pair
    * graph + components run over the relabeled relation. The gate's
    * fixed kCells=8 keeps every kernel on the bit-exact flat scan; at
    * deploy-sized cell counts train/assign go through the two-level
    * coarse quantizer ([[graft.functions.CentroidIndex]]) —
    * deterministic, with the same documented boundary approximation as
    * the blocking itself (see knnJoinGeo).
    */
  def semDedupGeo(embeddings: DataFrame, minCos: Double = 0.3, kCells: Int = 8,
                  iters: Int = 3, maxIterations: Int = 50,
                  smallGraphEdges: Long = 500000L): DataFrame = {
    val cent = Vectors.trainCentroids(embeddings, kCells, iters)
    val relabeled =
      if (cent.isEmpty)
        embeddings.filter(lit(false))
          .select(col("vec_id"), lit(0).cast("int").as("label"), col("embedding"))
      else embeddings.filter(Vectors.kmValid)
        .select(col("vec_id"),
          Vectors.kmNearest(cent).getField("cluster").as("label"), col("embedding"))
    val pairs = embedNearDup(relabeled, minCos)
      .select(col("vec_a").as("doc_a"), col("vec_b").as("doc_b"))
    val nodes = embeddings.select(col("vec_id").as("doc_id"))
    assignClusters(pairs, nodes, maxIterations, smallGraphEdges)
      .withColumnRenamed("doc_id", "vec_id")
  }

  /** Exact distributed connected components by accelerated min-label
    * propagation over a directed pair list (made undirected internally).
    * Returns (doc_id, cluster_id = component-min doc_id) for every node
    * that appears in an edge; edgeless nodes are the caller's (they keep
    * their own id — see dedupClusters' final left join).
    *
    * Each round relaxes BOTH one edge hop (min over neighbours' labels)
    * and one POINTER JUMP (my label's current label — shortcutting, as in
    * hash-to-min / large-star algorithms): label chains halve every round,
    * so convergence is O(log diameter) rounds instead of O(diameter) —
    * on a path graph of 64 nodes, 8 rounds instead of 63, i.e. ~8 shuffle
    * stages saved per extra hop of diameter at 100 TB. Near-dup clusters
    * are near-cliques (diameter ~2), so the jump costs one extra keyed
    * join per round and buys insurance against chain-shaped components
    * (e.g. drifting near-dup chains A~B~C where A!~C).
    *
    * Exactness: when a round changes nothing, in particular the edge
    * relaxation changed nothing, so labels are constant across every edge
    * → each component is uniformly labeled with its minimum id (the min
    * seeds itself). The pointer jump only ever proposes labels of
    * component members, so it cannot escape the component. The loop runs
    * to CONVERGENCE and THROWS if the iteration cap is hit — never a
    * silent approximation.
    *
    * Each superstep is MATERIALIZED (localCheckpoint): comp is referenced
    * three times per round, and an uncached lineage recomputes earlier
    * supersteps exponentially (GraphX's persist-per-superstep pattern).
    * Convergence is read off a carried changed-flag on the materialized
    * superstep — no compare-join against the previous round. The jump
    * join's key (the current label) grows hot as components coalesce —
    * that skew is AQE's skew-join case, and the relation is |V(edges)|,
    * orders below the corpus.
    */
  private[graft] def minLabelComponents(pairs: DataFrame, maxIterations: Int): DataFrame = {
    val undirected = pairs
      .unionByName(pairs.select(col("doc_b").as("doc_a"), col("doc_a").as("doc_b")))
    // Only nodes that appear in an edge enter the loop: the singleton
    // majority never pays a superstep.
    val edgeNodes = undirected.select(col("doc_a").as("doc_id")).distinct()
    var comp = edgeNodes.withColumn("cluster_id", col("doc_id")).sharedCheckpoint
    var round = 0
    var changed = 1L
    while (changed > 0 && round < maxIterations) {
      val viaEdge = undirected
        .join(comp.withColumnRenamed("doc_id", "doc_b").withColumnRenamed("cluster_id", "nb"),
          Seq("doc_b"))
        .groupBy(col("doc_a").as("doc_id"))
        .agg(min("nb").as("nb"))
      // distinct names throughout (jkey/ll/next_id/prev_id): aliasing a
      // column to an existing name inside a select invites lateral-alias
      // capture (SURVEY §9 lesson) — never shadow here
      val viaJump = comp
        .select(col("doc_id").as("jkey"), col("cluster_id").as("ll"))
      val next = comp
        .join(viaEdge, Seq("doc_id"), "left")
        .join(viaJump, col("cluster_id") === col("jkey"), "left")
        .select(col("doc_id"), col("cluster_id").as("prev_id"),
          least(col("cluster_id"),
            coalesce(col("nb"), col("cluster_id")),
            coalesce(col("ll"), col("cluster_id"))).as("next_id"))
        .select(col("doc_id"), col("next_id").as("cluster_id"),
          (col("next_id") < col("prev_id")).as("chg"))
        .sharedCheckpoint
      changed = next.filter(col("chg")).count()
      comp = next.drop("chg")
      round += 1
    }
    if (changed > 0) {
      throw new IllegalStateException(
        s"minLabelComponents did not converge within $maxIterations rounds " +
          s"($changed labels still changing) — raise maxIterations rather than " +
          "returning approximate clusters")
    }
    comp
  }

  // ---- #80 exact substring overlap -----------------------------------------
  /** Exact substring-overlap detection (the third dedup pillar after set
    * similarity and fingerprints, à la "Deduplicating Training Data Makes
    * Language Models Better"): two docs overlap when they share ANY run of
    * `k` consecutive tokens — which is exactly sharing a k-gram, so the
    * in-row shingle sets + inverted-index join do the whole job with k
    * large (13 tokens ≈ the literature's 50-char runs). Emits the pair and
    * how many distinct k-runs they share.
    *
    * Scale: a 13-gram's document frequency is ~1 except for genuinely
    * copied passages, so the index join is linear in the corpus — UNLESS
    * the corpus carries shared boilerplate (license headers, templated
    * pages), where one hot 13-gram appears in d documents and makes the
    * index join d²-quadratic. `maxDf` is that lever, with ngramJaccard's
    * exact contract: shingles with document frequency > maxDf are dropped
    * from CANDIDATE GENERATION only, and each surviving pair's
    * shared_runs is recomputed exactly from the full in-row sets — so a
    * reported count is never an undercount; a pair is missed only when
    * ALL its shared runs are boilerplate above the cap (which is the
    * pruning's purpose). The default (None) keeps generation exhaustive
    * and is what the DuckDB oracle checks.
    */
  def substringOverlap(documents: DataFrame, k: Int = 13,
                       maxDf: Option[Long] = None): DataFrame = {
    val arr = shingleArrays(canon(documents), k)
    val inv = arr.select(col("doc_id"), explode(col("shs")).as("xsh"))
    maxDf match {
      case None =>
        inv.as("a")
          .join(inv.as("b"), col("a.xsh") === col("b.xsh") && col("a.doc_id") < col("b.doc_id"))
          .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
          .agg(count(lit(1)).as("shared_runs"))
      case Some(cap) =>
        // prune the index to sub-cap shingles for pair GENERATION, then
        // verify each candidate against the full sets — identical rows to
        // the exhaustive path for every pair that shares >= 1 rare run
        val rare = inv.groupBy("xsh").agg(count(lit(1)).as("df"))
          .filter(col("df") <= cap).select("xsh")
        // df-filter one side only: implied for the other by the equi-join
        val cand = inv.join(rare, "xsh").as("a")
          .join(inv.as("b"),
            col("a.xsh") === col("b.xsh") && col("a.doc_id") < col("b.doc_id"))
          .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
          .distinct()
        cand
          .join(arr.select(col("doc_id").as("doc_a"), col("shs").as("shs_a")), "doc_a")
          .join(arr.select(col("doc_id").as("doc_b"), col("shs").as("shs_b")), "doc_b")
          .select(col("doc_a"), col("doc_b"),
            graft.functions.HashFunctions.sortedIntersectSize(col("shs_a"), col("shs_b"))
              .as("shared_runs"))
    }
  }

  // ---- #77 incremental (delta) exact dedup ---------------------------------
  /** Exact dedup of a NEW ingestion partition against the already-stored
    * corpus — the batch twin of `DedupStream`: drop a new doc when its
    * content hash already exists in the store, and dedup within the delta
    * itself (min doc_id survives). The delta split is doc_id < cutoff =
    * stored, >= cutoff = new (ids are ingestion-ordered in the testdata).
    *
    * Scale: only the HASH column of the stored corpus moves — 32 bytes
    * per stored doc through one anti-join keyed by hash; the delta is
    * days, not years, of data. On a warehouse, store the hash dictionary
    * as a table bucketed by hash (Layout.writeBucketed) and the stored
    * side of the anti-join moves through NO exchange.
    */
  def dedupIncremental(documents: DataFrame, cutoff: Long = 400L): DataFrame = {
    // under the planted fixture, exact copies at doc_id+2e7 exercise both
    // paths: copies of stored docs (< cutoff) drop via the store anti-join,
    // copies of delta docs collapse within the delta
    val hashed = canon(documents).select(col("doc_id"),
      sha2(col("text"), 256).as("content_hash"))
    val storedHashes = hashed.filter(col("doc_id") < cutoff)
      .select("content_hash").distinct()
    hashed.filter(col("doc_id") >= cutoff)
      .join(storedHashes, Seq("content_hash"), "left_anti")
      .groupBy("content_hash")
      .agg(min("doc_id").as("keep_id"), count(lit(1)).as("n_dups_in_delta"))
  }

  // ---- #40 SimHash ---------------------------------------------------------
  /** 60-bit SimHash over word-count vectors (md5-derived bit patterns),
    * 15-bit chunk bucketing, hamming <= maxHamming via bit_count(xor).
    */
  def dedupSimhash(documents: DataFrame, maxHamming: Int = 3): DataFrame = {
    val dd = canon(documents)
    // SimHash is a pure per-document function, so it is computed IN-ROW by
    // a single codegen'd expression (graft.functions.SimhashBits): zero
    // shuffles to build the fingerprint. The previous formulation exploded
    // word occurrences and ran 60 sum-aggregates through a doc_id-keyed
    // shuffle — a full-corpus shuffle at 100 TB for a map-side computation.
    // Repartition spreads the md5-heavy projection out of the scan's
    // (possibly few) splits; BY COLUMN, not by number — simhash CPU is
    // proportional to text bytes, so AQE's byte-based advisory width is
    // the scale-faithful fan-out and a tiny corpus coalesces instead of
    // paying 32 near-empty tasks' fixed cost (see shingleArrays).
    val sim = dd
      .repartition(col("doc_id"))
      .select(col("doc_id"),
        graft.functions.HashFunctions.simhashBits(split(col("text"), "\\s+")).as("simhash"))
    val chunks = sim.select(col("doc_id"), col("simhash"),
        posexplode(array((0 until 4).map(ci => expr(s"shiftright(simhash, ${ci * 15}) & 32767")): _*))
          .as(Seq("ci", "chunk")))
    chunks.as("a")
      .join(chunks.as("b"),
        col("a.ci") === col("b.ci") && col("a.chunk") === col("b.chunk") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        expr("bit_count(a.simhash ^ b.simhash)").cast("int").as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxHamming)
  }

  // ---- #41 exact n-gram Jaccard via inverted-index join --------------------
  /** All pairs sharing >= 1 shingle (inverted-index join; 3-gram document
    * frequency is near-1 in this corpus so the join is linear), exact
    * Jaccard >= threshold.
    *
    * `maxDf` is the hot-key lever for real corpora, where stopword
    * trigrams ("of the and") have huge document frequency and make the
    * index key quadratic: shingles with df > maxDf are dropped from
    * CANDIDATE GENERATION only (the Jaccard itself is computed from the
    * full per-pair intersection, so surviving pairs keep exact scores).
    * A pair is missed only if ALL its shared shingles are above the cap.
    * Two consequences: the cap must EXCEED the expected duplicate-cluster
    * size (copies inflate every shared shingle's df by the cluster
    * cardinality — the spec demonstrates the miss at cap < cluster), and
    * at J >= 0.3 a surviving non-cluster pair shares many distinct-df
    * shingles, so residual recall loss is negligible. The default (None)
    * keeps candidate generation exhaustive and is what the DuckDB oracle
    * checks.
    */
  def ngramJaccard(documents: DataFrame, k: Int = 3, minJaccard: Double = 0.3,
                   maxDf: Option[Long] = None): DataFrame = {
    val arr = shingleArrays(canon(documents), k)
    // inverted index from the in-row sets (map-side explode, already distinct)
    val inv = arr.select(col("doc_id"), explode(col("shs")).as("xsh"))
    maxDf match {
      case None =>
        // Exhaustive path: every shared shingle is a join hit, so the
        // intersection size IS the per-pair hit count — ints through a
        // partial-agg shuffle (in-row set verify would ship whole arrays
        // for every ≥1-shared-shingle pair; measured 2x slower here).
        // The streamed a-side is spread out of the (now AQE-coalescible)
        // shingle-cache partitioning when the b-side will broadcast —
        // pair-enumeration CPU is quadratic in shingle df, not
        // proportional to the cache's bytes (the Vectors block-join
        // guard, keyed by doc_id; above the broadcast threshold the join
        // shuffles by xsh and the spread is skipped).
        val inter = Vectors.spreadIfBroadcastJoin(inv, inv, "doc_id").as("a")
          .join(inv.as("b"), col("a.xsh") === col("b.xsh") && col("a.doc_id") < col("b.doc_id"))
          .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
          .agg(count(lit(1)).as("inter"))
        inter
          .join(arr.select(col("doc_id").as("doc_a"), size(col("shs")).as("n_a")), "doc_a")
          .join(arr.select(col("doc_id").as("doc_b"), size(col("shs")).as("n_b")), "doc_b")
          .withColumn("jaccard",
            fl(col("inter").cast("double") / (col("n_a") + col("n_b") - col("inter")).cast("double"), 6))
          .filter(col("jaccard") >= minJaccard)
          .select("doc_a", "doc_b", "jaccard")
      case Some(cap) =>
        // Capped path. Candidate generation prunes the index to rare
        // (df <= cap) shingles, and the exact intersection is decomposed
        // by rarity instead of re-verified from the full in-row sets:
        //   |A ∩ B|  =  |shared rare|  +  |shared hot|
        // The first term IS the candidate join's per-pair hit count (the
        // a-side rare filter makes every hit rare — the equi-join implies
        // it for the b side, so one filter suffices and costs one fewer
        // shuffle join). The second term intersects the per-doc HOT
        // sub-arrays — bounded by the number of over-cap shingle values,
        // which is what the cap makes small — via the two-pointer kernel.
        // So the per-pair payload is a count plus two tiny arrays, never
        // the full shingle sets (measured 2x slower to ship), and on a
        // corpus where no shingle exceeds the cap the whole verify phase
        // degenerates to the exhaustive path's int aggregate over empty
        // hot sub-arrays.
        // The df side is expressed through the HOT set (df > cap), never the
        // rare one: hot is what the cap bounds small (a handful of stopword
        // shingle values at corpus scale — the same bound that let the
        // former plan BROADCAST the relation), so the df aggregate is
        // collected ONCE into a sorted broadcast array and every hot/rare
        // decision becomes an IN-ROW two-pointer split of the cached
        // per-doc shingle set (SortedFilterBroadcast): no anti-join pass
        // over the exploded index, no hot-doc explode + broadcast-join +
        // collect_list re-aggregation pass (those two re-walks of every
        // shingle instance measured ~5 s of the query's 8.6 s task CPU at
        // sf0.1, 32c), no 10^x-row rare relation ever materialized or
        // shuffled. The broadcast handle keeps task binaries O(1) in the
        // hot count (TopProbeLabels bundle discipline).
        val hotArr = inv.groupBy("xsh").agg(count(lit(1)).as("df"))
          .filter(col("df") > cap).select("xsh")
          .collect().map(_.getLong(0))
        java.util.Arrays.sort(hotArr)
        val hotBc = documents.sparkSession.sparkContext.broadcast(hotArr)
        def split(keep: Boolean) =
          graft.functions.HashFunctions.sortedFilterBroadcast(col("shs"), hotBc, keep)
        // rare per-doc sub-arrays exploded in-row ≡ the former anti-join
        // of the exploded index against hot (shs is sorted distinct, so
        // the exploded (doc_id, xsh) pair set and order are identical);
        // streamed side spread out of the cache partitioning in the
        // broadcast regime (same guard as the exhaustive path)
        val interRare = Vectors.spreadIfBroadcastJoin(
            arr.select(col("doc_id"), explode(split(keep = false)).as("xsh")), inv, "doc_id").as("a")
          .join(inv.as("b"),
            col("a.xsh") === col("b.xsh") && col("a.doc_id") < col("b.doc_id"))
          .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
          .agg(count(lit(1)).as("inter_rare"))
        // one per-doc metadata relation (set size + hot sub-array) so the
        // candidate relation is joined twice, not four times; the hot
        // sub-array is the in-row keep-side split ≡ the former
        // sort_array(collect_list(inner join against hot)) + []-coalesce,
        // now a map-side projection of the shingle cache. docMeta feeds
        // BOTH pair-side broadcast builds — the eager pin is the
        // documented materialize-before-fanout barrier.
        val docMeta = arr.select(col("doc_id"), size(col("shs")).as("n"),
            split(keep = true).as("hot"))
          .sharedCacheEager
        interRare
          .join(docMeta.select(col("doc_id").as("doc_a"), col("n").as("n_a"), col("hot").as("hot_a")), "doc_a")
          .join(docMeta.select(col("doc_id").as("doc_b"), col("n").as("n_b"), col("hot").as("hot_b")), "doc_b")
          .withColumn("inter", col("inter_rare") +
            graft.functions.HashFunctions.sortedIntersectSize(col("hot_a"), col("hot_b")))
          .withColumn("jaccard",
            fl(col("inter").cast("double") / (col("n_a") + col("n_b") - col("inter")).cast("double"), 6))
          .filter(col("jaccard") >= minJaccard)
          .select("doc_a", "doc_b", "jaccard")
    }
  }

  /** One-pass auto-sizing of the [[ngramJaccard]] df cap with a ZERO-LOSS
    * guarantee at the given threshold — so deploys don't inherit a
    * corpus-specific constant (the registered gate cap=16 came from a
    * manual output-identity sweep on the bench corpus).
    *
    * The capped path misses a pair only if ALL its shared shingles have
    * df > cap. For any pair (A, B) with J(A,B) ≥ t: the shared count is
    * J·|A∪B| ≥ t·|A|, so at most floor((1−t)·|A|) of A's shingles are
    * NOT shared — among A's floor((1−t)·|A|)+1 rarest shingles at least
    * one IS shared. Hence the per-doc statistic
    *   q(A) = the (floor((1−t)·|A|)+1)-th smallest shingle df of A
    * upper-bounds the pair's min-shared-df through A. Any cap ≥ the
    * SECOND-largest q over the corpus covers every pair (at most one doc
    * of a pair attains the max), so capped ≡ exhaustive at threshold t,
    * proven, in one extra df-join pass (the df aggregate is the same one
    * the capped path builds its hot set from).
    *
    * On clean corpora the statistic sits just above the duplicate-cluster
    * cardinality (copies inflate every shared shingle's df by the cluster
    * size); planted stopword shingles (df ≈ corpus size) do NOT drag it
    * up as long as each doc keeps a (1−t) fraction of rarer shingles —
    * exactly the regime where capping matters (`jaccard_hot_soak.json`,
    * kept in commit d1c0210, measures it). Conservative by design: the
    * guarantee covers the worst pair, so on corpora with heavy NATURAL
    * phrase sharing the returned cap can approach the df ceiling and
    * prune little — zero-loss costs that.
    */
  def autoJaccardCap(documents: DataFrame, k: Int = 3, minJaccard: Double = 0.3): Long = {
    val arr = shingleArrays(canon(documents), k)
    val inv = arr.select(col("doc_id"), explode(col("shs")).as("xsh"))
    val dfRel = inv.groupBy("xsh").agg(count(lit(1)).as("df"))
    // per-doc q-th smallest df; q = floor((1-t)*n + eps)+1. The eps guards
    // the exact-integer boundary: when (1-t)*n is truly integral but the
    // DOUBLE for (1-t) rounded below the real value (e.g. t=0.3 → 0.7 is
    // not representable), a bare floor lands one SHORT and the cap gets
    // tighter than the zero-loss proof covers. n·ulp(1) << 1e-9 for any
    // real shingle count, and an accidental cross UP only loosens the cap
    // — the proof direction that stays sound.
    val stat = inv.join(dfRel, "xsh")
      .groupBy("doc_id")
      .agg(sort_array(collect_list(col("df"))).as("dfs"))
      .select(element_at(col("dfs"),
        (floor(size(col("dfs")) * lit(1d - minJaccard) + lit(1e-9)) + 1).cast("int")).as("q"))
    val top2 = stat.orderBy(col("q").desc).limit(2).collect().map(_.getLong(0))
    if (top2.length < 2) top2.headOption.getOrElse(1L) else top2(1)
  }

  // ---- #42 embedding cosine near-dup ---------------------------------------
  /** Same-label block join (the label is the blocking key — at 100 TB this
    * is the IVF cell / LSH bucket) over the valid vectors: the unordered
    * pairs of [[graft.operators.Vectors.blockPairs]] at cosine >= `minCos`.
    */
  def embedNearDup(embeddings: DataFrame, minCos: Double = 0.3): DataFrame =
    Vectors.blockPairs(embeddings, _ < _).filter(col("cosine") >= minCos)

  // ---- #86 line-level (segment) dedup ---------------------------------------
  /** CCNet-style duplicated-segment removal (reference workload: cleaning
    * web-scale chat/text corpora before training): segment every document
    * into fixed-width token runs ("lines" — the synthetic corpus has no
    * newlines, so the deterministic segmentation stands in for the line
    * split), count each segment's occurrences ACROSS the whole corpus, and
    * rebuild each document from only the segments that occur once. Unlike
    * document-level dedup (#38-40), this removes boilerplate shared by
    * otherwise-distinct documents — headers, navigation, disclaimers.
    *
    * Scale: segments shuffle keyed by their md5 (fixed 32-byte key, never
    * the text); the corpus-wide occurrence count is a partial-agg groupBy
    * joined back onto the PERSISTED segment relation — one segmentation
    * scan (the materialization is the sharing barrier), map-side combine
    * absorbing hot boilerplate segments before the shuffle, and the
    * hash-keyed join-back sitting in AQE's skew-join case. The previous
    * count-WINDOW form had one fewer exchange but pinned every occurrence
    * of a hot segment (a header shared by half the corpus) to ONE task —
    * AQE cannot split window exchanges. No pair enumeration anywhere.
    */
  def dedupLines(documents: DataFrame, width: Int = 10): DataFrame = {
    // tokenization hoisted into its own projection (round-1 lesson: a split
    // inlined into the segmenting lambda re-evaluates once per SEGMENT)
    val segments = canon(documents)
      .select(col("doc_id"), split(col("text"), " ").as("w"))
      .select(
        col("doc_id"),
        posexplode(expr(
          s"""transform(sequence(0, int(ceil(size(w) / ${width}d)) - 1),
             | i -> array_join(slice(w, i * $width + 1, $width), ' '))"""
            .stripMargin.replace("\n", ""))).as(Seq("pos", "segment")))
      .withColumn("h", md5(col("segment")))
      .sharedCache
    val segCounts = segments.groupBy("h").agg(count(lit(1)).as("seg_df"))
    segments
      .join(segCounts, "h")
      .withColumn("dup", col("seg_df") > 1)
      .groupBy("doc_id")
      .agg(
        array_join(
          transform(
            array_sort(collect_list(when(!col("dup"), struct(col("pos"), col("segment"))))),
            x => x.getField("segment")),
          " ").as("clean_text"),
        count(lit(1)).as("n_segments"),
        sum(when(col("dup"), 1L).otherwise(0L)).as("n_dropped"))
  }

}
