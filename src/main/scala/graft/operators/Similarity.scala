package graft.operators

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.expressions.{UserDefinedFunction, Window}
import org.apache.spark.sql.functions._
import graft.Caches.SharedCacheOps

import EventSemantics.fl

/** Channel-similarity analytics — reference `web/api.py:418`
  * channel_clustering, `:914` recommend_channels, `:658` content_clustering.
  *
  * The reference pivots user×channel message counts into an in-memory
  * matrix and calls sklearn cosine_similarity; here the same math is a
  * self-join on the *rolled-up* (user, channel) relation with exact BIGINT
  * dot products — |users|×|channels| rows, never raw messages. No norms
  * relation is cached or joined back: the weekly similarity carries each
  * channel's norm on its rows into the join (a window sum from events, one
  * broadcast attach on the table seam), and recommendations and content
  * similarity read the norms off the diagonal of their Gram block.
  *
  * Determinism: dot products and norms are exact integer sums; the only
  * doubles are the final sqrt/divide, identical IEEE ops in both engines.
  */
object Similarity {

  /** #31 channel×channel cosine of user-message-count vectors, per week.
    * Emits ordered pairs (a < b) that share >= 1 user (zero-sim pairs are
    * absent by construction in both engines).
    *
    * The norm `n2` rides on each rollup row as a window sum over (week,
    * channel): the rollup is computed once and both self-join sides reuse
    * its exchange, with no cache, no barrier job and no norm joins. Rows of
    * a NULL user count in `n2` (as in the oracle's `norms`) and never in a
    * dot product (they never join). The broadcast attach of
    * [[channelSimilarityFrom]] would scan the fact table twice here:
    * Catalyst infers `isnotnull(user_id)` on the join side only, so the two
    * rollup exchanges differ and are not reused.
    */
  def channelSimilarity(events: DataFrame): DataFrame = {
    val w = EventSemantics.userWeeklyActivity(events)
      .select(col("user_id"), col("channel"), col("week"), col("messages"))
    cosines(w.withColumn("n2",
      sum(col("messages") * col("messages")).over(Window.partitionBy("week", "channel"))))
  }

  /** Cosine similarity from an already-materialized weekly rollup `w`
    * (user_id, channel, week, messages) — the deploy seam for a warehouse
    * that maintains the rollup as a TABLE (EventSemantics.incrementRollup
    * keeps it fresh): bucketed by user_id (Layout.writeBucketed), the
    * pair self-join runs with no input exchange (LayoutSpec pins this).
    * Also shares one rollup across consumers in-session
    * (clusteringCommunities).
    *
    * `n2` attaches through ONE broadcast join of the |channels × weeks|
    * norms aggregate: a broadcast join keeps the table's user_id
    * bucketing, where a (week, channel) window would re-shuffle it on both
    * join sides. A table is cheap to scan twice; a rollup computed from
    * events is not, hence the window in [[channelSimilarity]].
    */
  def channelSimilarityFrom(w: DataFrame): DataFrame = {
    val norms = w.groupBy("week", "channel")
      .agg(sum(col("messages") * col("messages")).as("n2"))
    cosines(w.join(broadcast(norms), Seq("week", "channel")))
  }

  /** The cosine core over rollup rows that already carry their (week,
    * channel) norm `n2`: the pair self-join on (user_id, week) and one
    * aggregate whose keys carry both norms to the division.
    */
  private def cosines(w: DataFrame): DataFrame =
    w.as("a")
      .join(w.as("b"),
        col("a.user_id") === col("b.user_id") && col("a.week") === col("b.week") &&
          col("a.channel") < col("b.channel"))
      .groupBy(col("a.week").as("week"), col("a.channel").as("channel_a"), col("b.channel").as("channel_b"),
        col("a.n2").as("n2_a"), col("b.n2").as("n2_b"))
      .agg(sum(col("a.messages") * col("b.messages")).as("dot"))
      .select(col("week"), col("channel_a"), col("channel_b"),
        fl(col("dot").cast("double") / (sqrt(col("n2_a").cast("double")) * sqrt(col("n2_b").cast("double"))), 6)
          .as("similarity"))

  /** #32 recommend_channels (api.py:914): for one user, score every
    * candidate channel by Σ cosine-sim to the user's channels (full-period
    * weights), excluding channels where the user already has > 3 messages,
    * top-10, log-dampened 0-100 score.
    */
  def recommend(events: DataFrame, userId: Long = 3L, exclThreshold: Long = 3L, k: Int = 10): DataFrame =
    recommendFrom(
      EventSemantics.userWeeklyActivity(events)
        .groupBy("user_id", "channel").agg(sum("messages").as("weight")),
      userId, exclThreshold, k)

  /** Recommendations from an already-materialized full-period weight
    * rollup `w` (user_id, channel, weight) — the deploy seam for a
    * warehouse that maintains this table (derivable from the weekly MV by
    * one aggregation, so `incrementRollup` keeps it one step away).
    *
    * The dot products are a Gram block over all channel pairs, whose
    * diagonal holds the norms ([[gramCosines]]): `w` is computed once and
    * both join sides reuse its exchange, with no norms aggregate, cache or
    * join. The join is null-safe on user_id, so a NULL user pairs only
    * with its own rows: it adds to `g`, whose diagonal is the norms the
    * oracle counts it in, and never to `dot`. At SoakGen x30 of sf0.1
    * (`graft.Bench`, 4 vCPU, median of 3) it runs 5.6 s and 4.5 CPU-s
    * against 6.1 and 4.7 for the cached rollup it replaced (wall slope
    * over x1/x10/x30 0.42 against 0.43). A norm window over `channel`
    * (at most |channels| tasks for the whole rollup) lost: 5.2 CPU-s
    * against 3.8 in its own round.
    */
  def recommendFrom(w: DataFrame, userId: Long = 3L, exclThreshold: Long = 3L, k: Int = 10): DataFrame = {
    val sims = gramCosines(w.as("a").join(w.as("b"), col("a.user_id") <=> col("b.user_id"))
      .groupBy(col("a.channel").as("channel_a"), col("b.channel").as("channel_b"))
      .agg(sum(when(col("a.user_id").isNotNull, col("a.weight") * col("b.weight"))).as("dot"),
        sum(col("a.weight") * col("b.weight")).as("g")), "channel_a", "channel_b", "g")
    // The requesting user's channel vector is bounded by |channels| (the
    // reference fetches it as one row set per request, api.py:930) — ONE
    // capped driver collect, then plain literal predicates. The broadcast
    // formulation spends three jobs (two broadcast builds + a crossJoin
    // materialization) shipping relations this small around the cluster.
    val mine = w.filter(col("user_id") === userId && col("weight") > 0)
      .select(col("channel"), col("weight"))
      .collect()
    val ucs = mine.map(_.getString(0)).toSeq
    val nUc = ucs.size.toLong
    val excl = mine.filter(_.getLong(1) > exclThreshold).map(_.getString(0)).toSeq
    if (ucs.isEmpty)
      sims.filter(lit(false))
        .select(col("channel_a").as("channel_name"), lit(0d).as("score"))
    else
      sims
        .filter(col("channel_b").isin(ucs: _*))
        .groupBy("channel_a").agg(sum("sim").as("raw_score"))
        .filter(if (excl.isEmpty) lit(true) else !col("channel_a").isin(excl: _*))
        .orderBy(col("raw_score").desc, col("channel_a").asc)
        .limit(k)
        .select(col("channel_a").as("channel_name"),
          fl(log(lit(1d) + col("raw_score") / lit(nUc).cast("double") * 100d) / log(lit(101d)) * 100d, 4)
            .as("score"))
  }

  /** Cosines `sim` from a Gram block: `dot` rows keyed by (`a`, `b`) that
    * hold each key's diagonal (k, k), whose `g` is that key's squared
    * norm. A window over each key reads its norm off the diagonal (a
    * partition is one key's row of the block, at most |keys| rows), so the
    * norms need no aggregate, cache or join of their own. A NULL key has no
    * diagonal and a NULL `dot` pairs no rows: both give a NULL cosine,
    * which is dropped, as the oracles' norm joins drop them.
    */
  private def gramCosines(gram: DataFrame, a: String, b: String, g: String = "dot"): DataFrame = {
    def norm(k: String) = sqrt(max(when(col(a) === col(b), col(g))).over(Window.partitionBy(k)).cast("double"))
    gram.select(col(a), col(b), (col("dot").cast("double") / (norm(a) * norm(b))).as("sim"))
      .filter(col("sim").isNotNull)
  }

  /** #33 content_clustering (api.py:658): TF-IDF over each source's
    * concatenated text, pairwise cosine. Unigram terms, smooth idf
    * (ln((1+N)/(1+df))+1, sklearn's formula), exact integer tf.
    *
    * `maxDf` is the hot-key lever for real corpora: the pairwise dot
    * product joins on `term`, so a term appearing in d sources makes a
    * d²-size join key — stopwords turn the join quadratic in the corpus.
    * With `Some(cap)`, terms with document frequency > cap are pruned from
    * the WHOLE vectorization (tf-idf, dots, and norms consistently) —
    * sklearn CountVectorizer's `max_df` semantic, a well-defined smaller
    * vocabulary rather than an approximation of the full one. The default
    * (None) keeps the full vocabulary and is what the DuckDB oracle checks.
    */
  def contentSimilarity(documents: DataFrame, maxDf: Option[Long] = None): DataFrame = {
    val terms = documents
      .select(col("source"), explode(split(lower(trim(col("text"))), "\\s+")).as("term"))
      // Spark split("") is [""], DuckDB regexp_extract_all("") is [] —
      // without this filter an empty/whitespace-only doc injects "" into
      // the vocabulary (two blank docs would score similarity 1.0) and
      // diverges from the oracle; same guard as every other tokenizer here
      .filter(length(col("term")) > 0)
    // ONE corpus scan, no cache: tf's partial agg absorbs the exploded
    // token stream map-side, and the term-partitioned aggregate carries
    // its term's document frequency as a `count` window over `term` —
    // the repartition already satisfies the window's distribution, so df
    // costs no exchange and no join. A window partition is one term's
    // sources, at most |sources| rows (`maxDf` caps it for stopwords).
    val tf = terms.groupBy("source", "term").agg(count(lit(1)).as("tf"))
      .repartition(col("term"))
      .withColumn("df", count(lit(1)).over(Window.partitionBy("term")))
    // the corpus-size idf scalar: counted over raw documents, not the
    // tokenized aggregate — sklearn (the reference's vectorizer) counts
    // every fitted sample in n, including sources whose whole text is
    // null/empty, and the oracle's COUNT(DISTINCT source) must see the
    // same denominator. Kept LAZY as a broadcast single-row cross join
    // (not an eager collect) so the column-pruned source scan runs once
    // inside the query, not once per plan build.
    val n = documents.select(countDistinct("source").as("n_src"))
    val weighted = tf
      .filter(maxDf.map(c => col("df") <= c).getOrElse(lit(true)))
      .crossJoin(broadcast(n))
      .select(col("source"), col("term"),
        (col("tf").cast("double") *
          (log((lit(1d) + col("n_src").cast("double")) / (lit(1d) + col("df").cast("double"))) + lit(1d)))
          .as("wt"))
    // a Gram block ([[gramCosines]]): `<=` keeps each source's diagonal,
    // its n2, in the term-keyed self-join, whose sides keep tf's term
    // partitioning. SoakGen x30 of sf0.1: 3.8 s against 5.2 for the
    // cached norms it replaced (graft.Bench, 4 vCPU, median of 3; wall
    // slope 0.43 on both)
    gramCosines(weighted.as("a")
      .join(weighted.as("b"), col("a.term") === col("b.term") && col("a.source") <= col("b.source"))
      .groupBy(col("a.source").as("source_a"), col("b.source").as("source_b"))
      .agg(sum(col("a.wt") * col("b.wt")).as("dot")), "source_a", "source_b")
      .filter(col("source_a") < col("source_b"))
      .select(col("source_a"), col("source_b"), fl(col("sim"), 4).as("similarity"))
  }

  /** #34 community detection analog (api.py:478 Leiden): keep edges whose
    * similarity exceeds the per-week median, then EXACT connected components
    * (community = min channel label of the component, matching the oracle's
    * recursive reachability).
    *
    * The graph's nodes are channels, not users — bounded cardinality at any
    * data scale — so each week's edge list is collected in-row and solved
    * with a union-find in one pass: one shuffle keyed by week, no iterative
    * join loop (which pays ~3 shuffles per hop of graph diameter and only
    * approximates components up to a fixed depth). The heavy part — the
    * similarity matrix — stays fully distributed upstream.
    */
  private val componentsUdf = udf { (nodes: Seq[String], edges: Seq[Row]) =>
    val parent = scala.collection.mutable.HashMap.empty[String, String]
    def find(x: String): String = {
      var r = x
      while (parent(r) != r) r = parent(r)
      var c = x
      while (parent(c) != r) { val n = parent(c); parent(c) = r; c = n }
      r
    }
    nodes.foreach(n => parent.getOrElseUpdate(n, n))
    // min-label union: the smaller root becomes the parent, so every final
    // root is the minimum label of its component
    Option(edges).getOrElse(Seq.empty).foreach { e =>
      val a = e.getString(0); val b = e.getString(1)
      parent.getOrElseUpdate(a, a); parent.getOrElseUpdate(b, b)
      val ra = find(a); val rb = find(b)
      if (ra != rb) { if (ra < rb) parent(rb) = ra else parent(ra) = rb }
    }
    nodes.map(n => (n, find(n)))
  }

  def clusteringCommunities(events: DataFrame): DataFrame = communities(events, componentsUdf)

  /** #34 community detection, Leiden partition semantics (api.py:478 runs
    * `leidenalg.find_partition`): same per-week thresholded similarity
    * graph as [[clusteringCommunities]], but partitioned by
    * modularity-optimizing Leiden ([[Leiden.cluster]]) instead of
    * connected components — two dense clusters joined by one bridge edge
    * SPLIT here where CC merges them, matching the live site's partitions.
    *
    * [[clusteringCommunities]] stays as the oracle-checkable variant (CC
    * is expressible as a recursive CTE; modularity optimization is not,
    * so this query is spec-gated + rows-checked). Edge weights are the
    * similarities; the per-week graph solve runs in-row over the bounded
    * channel set, like the reference's own igraph call.
    */
  private val leidenUdf = udf { (nodes: Seq[String], edges: Seq[Row]) =>
    val es = Option(edges).getOrElse(Seq.empty)
      .map(e => (e.getString(0), e.getString(1), e.getDouble(2)))
    Leiden.cluster(nodes, es).toSeq
  }

  def leidenCommunities(events: DataFrame): DataFrame = communities(events, leidenUdf)

  /** The per-week community pipeline under both solvers: edges above the
    * week's median similarity, as (channel_a, channel_b, similarity)
    * structs ([[componentsUdf]] reads the first two fields), and every
    * (week, channel) as a node. One materialized rollup feeds the
    * similarity edges AND the node list. It is pinned eagerly, so both
    * plan over a relation materialized before planning and AQE sees fixed
    * statistics (a lazy pin let it build the similarity join on either
    * side by run timing).
    */
  private def communities(events: DataFrame, solve: UserDefinedFunction): DataFrame = {
    val w = EventSemantics.userWeeklyActivity(events)
      .select(col("user_id"), col("channel"), col("week"), col("messages"))
      .sharedCacheEager
    val edges = channelSimilarityFrom(w)
      .withColumn("thr", expr("percentile(similarity, 0.5)").over(Window.partitionBy("week")))
      .filter(col("similarity") > col("thr"))
    val nodesW = w
      .select("week", "channel").distinct()
      .groupBy("week").agg(sort_array(collect_list("channel")).as("ns"))
    val edgesW = edges.groupBy("week")
      .agg(collect_list(struct(col("channel_a"), col("channel_b"), col("similarity"))).as("es"))
    nodesW.join(broadcast(edgesW), Seq("week"), "left")
      .select(col("week"), explode(solve(col("ns"), col("es"))).as("nc"))
      .select(col("week"), col("nc._1").as("channel"), col("nc._2").as("community"))
  }

}
