package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Caches.SharedCacheOps

import EventSemantics.fl

/** Corpus-preparation operators a large-scale training-data pipeline needs
  * beyond dedup (SURVEY §2 #61-64): benchmark decontamination, in-document
  * repetition scoring, and deterministic (hash / stratified) sampling.
  *
  * Scale design: decontamination broadcasts the (tiny) benchmark shingle
  * set against the (huge) training scan — the only train-side shuffle is
  * the one partial-aggregated hit count keyed by doc_id; repetition is a
  * pure in-row projection (zero shuffle); hash sampling is an in-row
  * filter (zero shuffle); stratified sampling is one window top-k whose
  * partial limit runs before the shuffle, as in the leaderboard, so no
  * task ever sorts a whole stratum.
  */
object Pipeline {

  /** md5-derived 60-bit id of a string — the cross-engine join key used by
    * every shingle/hash operator (same formula as Dedup's shingle ids).
    */
  private[operators] def md5Id(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    conv(substring(md5(c), 1, 15), 16, 10).cast("long")

  // ---- #61 benchmark decontamination ---------------------------------------
  /** Flag training documents that share any `k`-gram with the benchmark
    * (eval) set — the standard pre-training decontamination pass. Takes the
    * eval set as a RELATION (doc_id, text), the real API shape; the oracle
    * query feeds it [[graft.Fixtures.evalPrompts]] (a deterministic carve
    * with guaranteed positives) at the registry boundary.
    *
    * Scale shape: the benchmark shingle relation is tiny (eval suites are
    * MBs, the corpus is TBs) → broadcast inner join against the exploded
    * in-row train shingle sets, then ONE partial-aggregated count keyed by
    * doc_id; the zero-hit majority joins back via a broadcast left join,
    * so the 100 TB scan never shuffles its text.
    */
  def decontaminate(documents: DataFrame, evalDocs: DataFrame, k: Int = 5): DataFrame = {
    val evalGrams = shingleIds(evalDocs, k)
      .select(explode(col("shs")).as("xsh")).distinct()
    val hits = shingleIds(documents, k)
      .select(col("doc_id"), explode(col("shs")).as("xsh"))
      .join(broadcast(evalGrams), "xsh")
      .groupBy("doc_id").agg(count(lit(1)).as("n_hits"))
    documents.select("doc_id")
      .join(broadcast(hits), Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_hits"), lit(0L)).as("n_hits"),
        (coalesce(col("n_hits"), lit(0L)) > 0).as("is_contaminated"))
  }

  /** Per-doc distinct k-gram ids, in-row (same construction as Dedup's
    * shingle sets) — shared by [[decontaminate]] and [[decontaminateBloom]].
    * One codegen'd [[graft.functions.ShingleIds]] pass (the split(NULL)
    * coalesce preserves the prior []-on-null-text behavior); semantics
    * pinned elementwise against the former higher-order-function chain in
    * ExpressionPropertySpec.
    */
  private def shingleIds(df: DataFrame, k: Int): DataFrame = df
    .select(col("doc_id"),
      coalesce(split(lower(trim(col("text"))), "\\s+"),
        array().cast("array<string>")).as("w"))
    .select(col("doc_id"),
      graft.functions.ShingleFunctions.shingleIds(col("w"), k, sorted = false).as("shs"))

  /** [[decontaminate]] with a Bloom-filter pre-prune — the shape that keeps
    * decontamination affordable when the eval suite outgrows a comfortable
    * broadcast hash relation. Semantics are IDENTICAL (the Bloom only
    * prunes candidate shingles; an exact join re-verifies every survivor),
    * so it shares decontaminate's oracle.
    *
    * Scale design: the eval shingle ids build ONE Bloom filter (Spark's own
    * `BloomFilterAggregate`, the machinery behind AQE runtime filters; ≤8 MB
    * at the default bit cap vs ~20+ bytes per key for a broadcast hash
    * table), collected once on the driver — the bounded train-once collect,
    * same contract as the PQ codebook — and embedded as a binary literal so
    * `might_contain` runs INSIDE whole-stage codegen over the exploded
    * corpus shingles. The exact-verify join then sees only the tiny
    * surviving fraction (true hits + the fp rate), which is what lets it
    * stay broadcast — or become an affordable shuffle join — at eval-set
    * sizes where joining every corpus shingle against the full eval
    * relation would dominate the scan.
    */
  def decontaminateBloom(documents: DataFrame, evalDocs: DataFrame, k: Int = 5,
                         estItems: Long = 4000000L): DataFrame = {
    import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
    import org.apache.spark.sql.graftbridge.ColumnBridge
    import graft.functions.BloomFunctions
    // three consumers (count for bloom sizing + bloom build + exact
    // verify) — pin so the eval corpus is shingled once
    val evalGrams = shingleIds(evalDocs, k)
      .select(explode(col("shs")).as("xsh")).distinct()
      .sharedCache
    // Size the filter from the ACTUAL eval-gram count (bounded action on
    // the pinned tiny relation), capped by estItems: the aggregate
    // allocates its full bit array in EVERY partial-aggregate task, so an
    // overprovisioned estItems (4M default ≈ 4.8 MB of bits) costs a
    // zero+merge of cores × bits regardless of data — measured as the
    // dominant CPU of this query at sf0.1. fpp is a pure perf knob here
    // (the exact join re-verifies every survivor), so undersizing can
    // never change results, only prune less.
    val nGrams = evalGrams.count()
    val sizedItems = math.min(math.max(nGrams, 4096L), estItems)
    // empty eval set -> the aggregate yields NULL -> might_contain(NULL, x)
    // is NULL -> the filter drops every shingle -> zero hits: correct
    val bloomBytes = evalGrams
      .select(ColumnBridge.column(
        new BloomFilterAggregate(ColumnBridge.expression(col("xsh")), sizedItems)
          .toAggregateExpression()).as("bf"))
      .head().getAs[Array[Byte]](0)
    // empty eval set → the aggregate yields NULL: the former NULL-literal
    // might_contain filter dropped every shingle → zero hits for every doc
    val hits =
      if (bloomBytes == null)
        documents.select(col("doc_id")).limit(0)
          .withColumn("n_hits", lit(0L))
      else {
        // the filter ships as a BROADCAST VARIABLE, not a plan literal:
        // the task binary carries only the handle (no multi-MB
        // "broadcasting large task binary" per stage) and the bit array
        // deserializes once per executor, not once per task per
        // expression (graft.functions.BloomFunctions)
        val bf = documents.sparkSession.sparkContext.broadcast(
          org.apache.spark.util.sketch.BloomFilter.readFrom(
            new java.io.ByteArrayInputStream(bloomBytes)))
        // doc-level any-contain prune BEFORE the explode: the zero-hit
        // majority (the overwhelming fraction of a 100 TB corpus) never
        // materializes its exploded shingle rows at all — only candidate
        // docs pay the explode + per-shingle filter + join
        shingleIds(documents, k)
          .filter(BloomFunctions.bloomAnyContain(col("shs"), bf))
          .select(col("doc_id"), explode(col("shs")).as("xsh"))
          .filter(BloomFunctions.bloomContainsLong(col("xsh"), bf))
          .join(broadcast(evalGrams), "xsh")
          .groupBy("doc_id").agg(count(lit(1)).as("n_hits"))
      }
    documents.select("doc_id")
      .join(broadcast(hits), Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_hits"), lit(0L)).as("n_hits"),
        (coalesce(col("n_hits"), lit(0L)) > 0).as("is_contaminated"))
  }

  // ---- #62 repetition scoring ----------------------------------------------
  /** Gopher-style within-document repetition: the fraction of n-gram
    * occurrences that are duplicates (1 − distinct/total). Scores the
    * caller's text verbatim (canonicalized); the oracle query feeds it
    * [[graft.Fixtures.repeatedDocs]] for verifiable positives.
    *
    * Pure in-row projection — zero shuffles; pipelines inside one
    * WholeStageCodegen span over the parquet scan at any scale.
    */
  def repetitionScore(documents: DataFrame, n: Int = 3): DataFrame =
    documents
      .select(col("doc_id"), split(lower(trim(col("text"))), "\\s+").as("w"))
      .select(col("doc_id"), expr(
        s"""CASE WHEN size(w) >= $n
           | THEN transform(sequence(1, size(w) - $n + 1), i -> array_join(slice(w, i, $n), ' '))
           | ELSE CAST(array() AS ARRAY<STRING>) END""".stripMargin.replace("\n", "")).as("gr"))
      .select(col("doc_id"),
        size(col("gr")).cast("long").as("n_ngrams"),
        size(array_distinct(col("gr"))).cast("long").as("n_distinct"))
      .withColumn("dup_frac",
        when(col("n_ngrams") > 0,
          fl(lit(1d) - col("n_distinct").cast("double") / col("n_ngrams").cast("double"), 4))
          .otherwise(lit(0d)))

  // ---- #63 deterministic hash sampling -------------------------------------
  /** Keep documents whose md5-derived bucket (over doc_id) falls below
    * `pct` of 100 — the reproducible corpus-sampling primitive. An in-row
    * filter with NO RNG state: the same doc always lands in the same
    * bucket, so samples are stable across reruns, resumable after partial
    * failures, and disjoint buckets partition the corpus exactly.
    */
  def sampleHash(documents: DataFrame, pct: Int = 20): DataFrame =
    documents
      .select(col("doc_id"), pmod(md5Id(col("doc_id").cast("string")), lit(100L)).as("bucket"))
      .filter(col("bucket") < pct)

  // ---- #64 stratified (language-balanced) sampling -------------------------
  /** Per-stratum quota sample: the `quota` docs with the smallest
    * md5-derived hash inside each `lang` — the language-balancing pass of a
    * corpus build. Deterministic (hash + doc_id tiebreak), as one
    * `row_number() <= quota` window like the leaderboard: Spark plans it as
    * a `WindowGroupLimit` whose `Partial` half runs below the `lang`
    * exchange, so each map partition ships at most `quota` docs per
    * stratum and no task ever sorts a whole stratum, which at 100 TB is
    * billions of docs for the majority language (`DashboardPlanSpec` pins
    * the partial limit; it is planned while `quota` is at most
    * `spark.sql.optimizer.windowGroupLimitThreshold`). For larger quotas
    * the same hash column supports threshold sampling — keep h below the
    * quota/|stratum| quantile — at the cost of an approximate cut; this
    * operator is the exact path.
    */
  def sampleStratified(documents: DataFrame, quota: Int = 30): DataFrame = {
    val byHash = Window.partitionBy("lang").orderBy(col("h").asc, col("doc_id").asc)
    documents
      .select(col("doc_id"), col("lang"), md5Id(col("doc_id").cast("string")).as("h"))
      .withColumn("pos", row_number().over(byHash).cast("long"))
      .filter(col("pos") <= quota)
      .select("lang", "doc_id", "pos")
  }

  /** Threshold-sampling variant of [[sampleStratified]] for quotas too
    * large for an exact per-stratum rank: keep a doc when its hash falls
    * below quota/|stratum| of the hash range — one broadcast of per-lang
    * counts and an in-row filter, NO window and NO sort at any stratum
    * size. The sample size is binomial around the quota (exact-k needs
    * the rank path); the cut is deterministic, so re-runs and resumption
    * agree row-for-row.
    */
  def sampleThreshold(documents: DataFrame, quota: Long = 30L): DataFrame = {
    val HASH_MAX = (1L << 60).toDouble // md5Id yields 60-bit non-negative ids
    val counts = documents.groupBy("lang").agg(count(lit(1)).as("n_lang"))
    documents
      .join(broadcast(counts), "lang")
      .select(col("lang"), col("doc_id"), md5Id(col("doc_id").cast("string")).as("h"),
        (least(lit(quota).cast("double") / col("n_lang").cast("double"), lit(1d)) * HASH_MAX).as("thr"))
      .filter(col("h") < col("thr"))
      .select("lang", "doc_id")
  }

  // ---- #127 DSIR importance resampling --------------------------------------
  /** DSIR-style data selection (Xie et al. 2023, "Data Selection for
    * Language Models via Importance Resampling" — public): score every
    * document by the log importance ratio of two hashed-n-gram bag
    * models, log p_target(doc) − p_raw(doc), then resample with the
    * engine's deterministic hash cut. Composition of in-house parts:
    *  - features: lowercased whitespace unigrams + bigrams (the #70/#88
    *    tokenization), md5-hashed into `buckets` buckets (the paper's
    *    hashed n-gram generative model; md5Id is the engine-wide
    *    cross-engine hash);
    *  - models: add-1-smoothed bucket counts — p(b) = (n_b + 1)/(T + B) —
    *    over the TARGET slice (`lang = targetLang`, the in-corpus stand-in
    *    for the paper's target distribution) and over the full RAW corpus;
    *  - score: per-doc mean log-ratio per feature occurrence (the length
    *    normalization that keeps exp() in range), floored at 4 decimals
    *    like the NLL family (distributed double sums reorder);
    *  - resample: keep a doc when its md5 uniform (60-bit hash % 10^6)
    *    falls below min(1, exp(r))·pct% — importance-weighted Bernoulli
    *    selection with budget pct, the deterministic (resumable,
    *    auditable) form of the paper's sampling step, built on the #63
    *    hash-cut machinery. A neutral doc (r = 0) keeps the base rate;
    *    target-like docs are up-weighted, off-target down-weighted.
    *
    * Scale shape: ONE corpus tokenize/explode feeding a per-(doc, bucket)
    * pre-count (map-side combine absorbs hot buckets before its single
    * exchange, the #70 pattern); both models are ≤`buckets`-row aggregates
    * of that pre-count, BROADCAST back for the scoring join — the corpus
    * is never shuffled on the bucket key, and the only full-width exchange
    * is the per-doc rollup. The paper's B = 10^4 keeps both models a few
    * hundred KiB at any corpus size.
    */
  def dsir(documents: DataFrame, targetLang: String = "en", buckets: Int = 512,
           pct: Int = 20): DataFrame = {
    // fused codegen'd kernel (graft.functions.GramBucketCounts): raw split
    // words → per-doc (bucket → count) map IN-ROW — no interpreted HOF
    // tokenize/bigram chain, no per-gram explode, and the per-(doc, bucket)
    // pre-count needs no exchange at all (the map IS the pre-count; the
    // explode emits ≤ min(grams, buckets) rows per doc). Persisted: the two
    // model builds and the scoring join share one materialization (the #70
    // rationale); eager because the model broadcasts race the scoring join
    // on a cold cache.
    val dbk = documents
      .select(col("doc_id"), col("lang"),
        graft.functions.ShingleFunctions.gramBucketCounts(
          split(lower(trim(col("text"))), "\\s+"), buckets).as("bm"))
      .filter(size(col("bm")) > 0)
      .select(col("doc_id"), col("lang"), explode(col("bm")).as(Seq("b", "n")))
      .sharedCacheEager
    val rawM = dbk.groupBy("b").agg(sum("n").cast("long").as("n_raw"))
    val tgtM = dbk.filter(col("lang") === targetLang)
      .groupBy("b").agg(sum("n").cast("long").as("n_tgt"))
    val scalars = rawM.agg(sum("n_raw").cast("long").as("t_raw"))
      .crossJoin(tgtM.agg(coalesce(sum("n_tgt"), lit(0L)).cast("long").as("t_tgt")))
    val bD = lit(buckets.toDouble)
    val term = col("n").cast("double") *
      (log((coalesce(col("n_tgt"), lit(0L)).cast("double") + 1d) / (col("t_tgt").cast("double") + bD)) -
        log((col("n_raw").cast("double") + 1d) / (col("t_raw").cast("double") + bD)))
    dbk
      .join(broadcast(rawM), "b")
      .join(broadcast(tgtM), Seq("b"), "left")
      .crossJoin(broadcast(scalars))
      .groupBy("doc_id")
      .agg(sum("n").cast("long").as("n_feats"),
        (sum(term) / sum(col("n")).cast("double")).as("r"))
      .select(col("doc_id"), col("n_feats"), fl(col("r"), 4).as("log_ratio"),
        (pmod(md5Id(col("doc_id").cast("string")), lit(1000000L)) <
          floor(least(exp(fl(col("r"), 4)), lit(1d)) * lit(pct.toDouble / 100d) * 1e6).cast("long"))
          .as("kept"))
  }

  // ---- #115 deterministic corpus shuffle + sharding ------------------------
  /** The last step of every training-data build: a global, DETERMINISTIC
    * shuffle of the corpus into `shards` output shards — shard by md5
    * hash, position within the shard by (hash, doc_id). No RNG state:
    * the same corpus always shuffles identically (resumable, auditable),
    * and adjacent input docs land far apart (the decorrelation training
    * wants).
    *
    * Scale: ONE hash-keyed exchange + a per-shard sort — exactly the
    * write path of a sharded corpus (each shard file is written in hash
    * order). `shards` is the parallelism knob: corpus/shards rows sort
    * per task, so size it to the cluster like any terasort-style job.
    * The hash order inside a shard is also the resume cursor — a
    * half-written shard restarts at its last position.
    */
  def shuffleShards(documents: DataFrame, shards: Int = 16): DataFrame = {
    val h = md5Id(col("doc_id").cast("string"))
    val w = Window.partitionBy(col("shard")).orderBy(col("h").asc, col("doc_id").asc)
    documents
      .select(col("doc_id"), h.as("h"))
      .withColumn("shard", pmod(col("h"), lit(shards.toLong)))
      .withColumn("pos", row_number().over(w).cast("long"))
      .select("doc_id", "shard", "pos")
  }

  // ---- #84 weighted source mixing -------------------------------------------
  /** Deterministic source-mixture sampling — the composition step of a
    * training-data build (DoReMi-style source reweighting): given target
    * weights per `source`, keep each doc with probability
    * min(1, w_s/Σw · T / n_s), realized as the same stateless hash-threshold
    * cut as [[sampleThreshold]]. Up-weighted sources keep more of their
    * docs; sources smaller than their target keep everything (rate capped
    * at 1 — upsampling via repetition is the consumer's epoch logic).
    *
    * Shape at 100 TB: per-source counts are a tiny aggregate (|sources|
    * rows) broadcast to the scan; the keep decision is in-row. No shuffle
    * of the corpus, ever.
    */
  def mixSample(documents: DataFrame, targetTotal: Long = 200L,
                upWeighted: Set[String] = (0 to 9).map(i => s"src$i").toSet,
                upWeight: Double = 3.0): DataFrame = {
    val HASH_MAX = (1L << 60).toDouble
    val w = when(col("source").isin(upWeighted.toSeq: _*), upWeight).otherwise(1d)
    // weight normalization as a scalar-aggregate cross-join, not a
    // partition-less window: both run over the tiny |sources|-row
    // aggregate, but `WindowExec: No Partition Defined` would (correctly)
    // warn on every execution and a single-partition window is the wrong
    // habit to model — the 1-row aggregate broadcast is the scale shape.
    // The per-source aggregate is sharedCached because both the w_sum
    // scalar and the join feed off it — without the persist the corpus
    // would be scanned twice just to rebuild this |sources|-row relation.
    import graft.Caches.SharedCacheOps
    val perSource = documents.groupBy("source")
      .agg(count(lit(1)).as("n_src"), max(w).as("w")).sharedCache
    val counts = perSource.crossJoin(
      broadcast(perSource.agg(sum(col("w")).as("w_sum"))))
    documents
      .join(broadcast(counts), "source")
      .select(col("source"), col("doc_id"),
        md5Id(col("doc_id").cast("string")).as("h"),
        (least(col("w") / col("w_sum") * lit(targetTotal.toDouble) / col("n_src").cast("double"),
          lit(1d)) * HASH_MAX).as("thr"))
      .filter(col("h") < col("thr"))
      .select("source", "doc_id")
  }

  // ---- #85 dataset card -------------------------------------------------------
  /** The corpus "dataset card" build: per (source, lang), document count,
    * total whitespace tokens, mean quality score, mean character entropy,
    * and the share passing the Gopher rules — the report a data team ships
    * with a training corpus. Composes the in-row signal suite (every input
    * is a zero-shuffle projection), so the whole card is ONE scan + one
    * partial-agg shuffle of |sources × langs| groups at any corpus size.
    */
  def datasetCard(documents: DataFrame): DataFrame = {
    import graft.functions.TextFunctions._
    val t = col("text")
    // single-source thresholds: TextFunctions.gopherKeep, shared with
    // TextOps.gopherRulesDocs' keep flag
    val keep = gopherKeep(t)
    documents
      .select(col("source"), col("lang"),
        wsTokenCount(t).cast("long").as("toks"),
        qualityScore(t).as("q"),
        keep.cast("int").as("k"))
      .groupBy("source", "lang")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("toks")).as("n_tokens"),
        EventSemantics.fl(avg(col("q")), 6).as("mean_quality"),
        EventSemantics.fl(sum(col("k")).cast("double") / count(lit(1)).cast("double"), 6)
          .as("gopher_keep_rate"))
  }

  // ---- #66 sequence packing ------------------------------------------------
  /** Pack documents into fixed-token-capacity training sequences — the
    * context-assembly step of a pre-training data build. Documents are
    * sharded deterministically (doc_id % nShards), each shard packs its
    * docs in doc_id order by running token count, and a doc belongs to the
    * sequence where it STARTS (stream-chunking semantics — the straddle is
    * resolved by the consumer's truncation rule, which is out of band).
    *
    * This is the semantics distributed packers actually implement: exact
    * bin packing is order-dependent and serial, so real pipelines shard
    * first and pack each shard independently — which is also exactly what
    * makes it scale: the window runs per shard (embarrassingly parallel,
    * one shuffle keyed by shard), never over a global document order.
    * Output: (doc_id, shard, seq_id, offset, n_tokens).
    */
  def packSequences(documents: DataFrame, capacity: Long = 512L, nShards: Int = 32): DataFrame = {
    val tok = graft.functions.TextFunctions.bpeTokenCount(col("text")).cast("long")
    val w = Window.partitionBy("shard").orderBy("doc_id")
      .rowsBetween(Window.unboundedPreceding, -1)
    documents
      .select(col("doc_id"), (col("doc_id") % nShards).as("shard"), tok.as("n_tokens"))
      .withColumn("cum_before", coalesce(sum("n_tokens").over(w), lit(0L)))
      .select(col("doc_id"), col("shard"),
        expr(s"cum_before DIV $capacity").as("seq_id"),
        (col("cum_before") % capacity).as("offset"),
        col("n_tokens"))
  }

  // ---- #70 unigram LM scoring ----------------------------------------------
  /** Mean per-token negative log-likelihood under the corpus's own unigram
    * model (add-one smoothing) — the cheap stand-in for the LM-perplexity
    * quality filter of a CCNet-style pipeline: gibberish and off-corpus
    * docs score high, fluent in-domain docs score low.
    *
    * Scale shape: the vocab (term → count) is a rollup orders below the
    * corpus; scoring joins occurrences to vocab keyed by term (hot
    * stopword keys are exactly what partial aggregation absorbs — the
    * occurrence side is pre-counted per (doc, term) first, so the join
    * multiplicity per term is |docs containing it|, never raw occurrence
    * count), then one partial-agg shuffle keyed by doc_id.
    */
  def unigramNll(documents: DataFrame): DataFrame =
    unigramNllKeyed(documents, Nil)

  /** [[unigramNll]] with extra per-doc columns carried through the rollup
    * (e.g. `lang` for [[perplexityBuckets]]). Carried columns are
    * functionally dependent on doc_id, so widening the group keys adds
    * nothing to any shuffle.
    */
  private def unigramNllKeyed(documents: DataFrame, carry: Seq[String]): DataFrame = {
    val cc = carry.map(col)
    // pre-count per (doc, term) IN-ROW (graft.functions.TokenGramCounts):
    // no interpreted tokenize HOFs, no per-token explode, and no exchange
    // at all for the pre-count — the map IS the per-doc aggregate and the
    // explode emits one row per DISTINCT term per doc (stopword mass
    // collapses in-row). PERSISTED: the model build and the scoring join
    // share one materialization, so the corpus is tokenized once even
    // though the relation has two consumers with different column pruning.
    // eager: the model scalars broadcast-build races the scoring join on
    // a cold cache (see Caches.sharedCacheEager)
    val dt = documents
      .select(col("doc_id") +: cc :+
        graft.functions.ShingleFunctions.tokenGramCounts(
          split(lower(trim(col("text"))), "\\s+"), 1).as("tm"): _*)
      .filter(size(col("tm")) > 0)
      .select(col("doc_id") +: cc :+ explode(col("tm")).as(Seq("term", "n")): _*)
      .sharedCacheEager
    // corpus term frequency as a partial-agg groupBy + join-back on the
    // persisted pre-count — NOT a window over the term key: map-side
    // combine absorbs hot stopword terms before the shuffle, and the
    // term-keyed join-back is AQE's skew-join case; a window would pin
    // every (doc, term) row of a hot term to ONE task (AQE cannot split
    // window exchanges)
    val vocab = dt.groupBy("term").agg(sum("n").as("freq"))
    // the model scalars are a tiny reduction OVER THE VOCAB (not the
    // pre-count): total token mass and vocab size, broadcast to the scan
    val scalars = vocab.agg(
      sum("freq").cast("long").as("total"), count(lit(1)).as("v_size"))
    dt
      .join(vocab, "term")
      .crossJoin(broadcast(scalars))
      .groupBy(col("doc_id") +: cc: _*)
      .agg(
        sum("n").cast("long").as("n_tokens"),
        (sum(col("n").cast("double") *
          -log((col("freq").cast("double") + 1d) / (col("total").cast("double") + col("v_size").cast("double"))))
          / sum(col("n")).cast("double")).as("raw_nll"))
      .select(col("doc_id") +: cc ++: Seq(col("n_tokens"), fl(col("raw_nll"), 4).as("mean_nll")): _*)
  }

  /** CCNet-style perplexity bucketing: per language, split the corpus into
    * head/middle/tail thirds by the unigram-LM mean NLL — the published
    * recipe (Wenzek et al., CCNet §4.3) that downstream pipelines sample
    * from ("head" = most fluent third). Docs with no tokens carry no LM
    * score and are absent, matching [[unigramNll]]'s contract.
    *
    * Scale shape: thresholds are a per-lang percentile AGGREGATE — a rollup
    * with |langs| output rows, broadcast back for an in-row bucket compare;
    * never a global sort or a window over the lang key. The oracle default
    * is the exact percentile (which buffers per-group values — fine at
    * oracle SF); the documented 100 TB lever is `approx = true`
    * (approx_percentile's bounded-memory sketch), the same exact/approx
    * twin contract as p_token_percentiles. Cross-engine determinism: both
    * engines interpolate over the same 4-decimal-floored NLL multiset and
    * compare against thresholds rounded to 6 decimals, so a last-ulp
    * interpolation difference cannot move a doc across a bucket boundary.
    */
  def perplexityBuckets(documents: DataFrame, approx: Boolean = false): DataFrame = {
    // persisted: the threshold branch and the output branch both consume
    // the full per-doc LM scoring — without this the dt→vocab→join→agg
    // subtree (a whole corpus pass) executes twice, once per consumer
    // eager: the threshold broadcast-build races the probe side on a cold
    // cache (see Caches.sharedCacheEager)
    val nll = unigramNllKeyed(documents, Seq("lang"))
      .sharedCacheEager
    val pct =
      if (approx) expr("approx_percentile(mean_nll, array(CAST(1 AS DOUBLE)/3, CAST(2 AS DOUBLE)/3), 10000)")
      else expr("percentile(mean_nll, array(CAST(1 AS DOUBLE)/3, CAST(2 AS DOUBLE)/3))")
    val thr = nll.groupBy("lang").agg(
      round(pct.getItem(0), 6).as("t1"), round(pct.getItem(1), 6).as("t2"))
    nll.as("n")
      .join(broadcast(thr.as("t")), col("n.lang") <=> col("t.lang"))
      .select(col("n.doc_id").as("doc_id"), col("n.lang").as("lang"),
        col("n.mean_nll").as("mean_nll"),
        when(col("n.mean_nll") <= col("t.t1"), lit("head"))
          .when(col("n.mean_nll") <= col("t.t2"), lit("middle"))
          .otherwise(lit("tail")).as("bucket"))
  }

  // ---- #88 bigram LM scoring -------------------------------------------------
  /** Mean per-bigram negative log-likelihood under the corpus's own
    * add-one-smoothed bigram model — the next rung of the CCNet-style
    * LM-quality ladder above [[unigramNll]]: word-ORDER anomalies (shuffled
    * or templated text) score high even when the unigram mix looks normal.
    * p(w_i | w_{i-1}) = (c(w_{i-1} w_i) + 1) / (c(w_{i-1}·) + V), with
    * c(h·) the corpus count of h AS A HISTORY (the standard bigram-MLE
    * denominator: Σ_w c(h w)) and V the unigram vocab size.
    *
    * Scale shape mirrors unigram: bigrams are built IN-ROW (zip_with over
    * the token array — no position explode), pre-counted per (doc, bigram)
    * so the model lookups move one row per distinct pair; both model
    * counts are partial-agg groupBys joined back onto the PERSISTED
    * pre-count (map-side combine absorbs hot stopword histories; the
    * keyed join-backs are AQE's skew-join case, where a window over the
    * bigram/history key would pin a hot key's every row to one task).
    * One corpus pass for scoring, one tiny-output pass for V, one
    * partial-agg shuffle keyed by doc_id for the final score.
    */
  def bigramNll(documents: DataFrame): DataFrame = {
    // raw split words; the kernels below drop empty tokens themselves, so
    // the interpreted filter() HOF is gone. toks is consumed twice (bigram
    // build + the v_size scalar) and deliberately NOT cached: a persisted
    // token-array relation was measured SLOWER at sf0.1 (cache write +
    // array deserialization exceed the tokenize, and the cache boundary
    // breaks the scan→generate codegen fusion) — the duplicated work is
    // one cheap projection, not the corpus shuffle.
    val toks = documents.select(col("doc_id"),
      split(lower(trim(col("text"))), "\\s+").as("w"))
    // pre-count per (doc, bigram) IN-ROW (graft.functions.TokenGramCounts,
    // the unigramNll rationale): the explode emits one row per DISTINCT
    // bigram per doc with no pre-count exchange; `prev` is re-derived from
    // the space-joined key (tokens are \s+ splits — the FIRST space is the
    // gram joint, so substring_index is exact), keeping the history rollup
    // keyed on the same relation.
    // eager: the scalars broadcast-build races the scoring join on a cold
    // cache (see Caches.sharedCacheEager)
    val db = toks
      .select(col("doc_id"),
        graft.functions.ShingleFunctions.tokenGramCounts(col("w"), 2).as("bm"))
      .filter(size(col("bm")) > 0)
      .select(col("doc_id"), explode(col("bm")).as(Seq("bigram", "n")))
      .withColumn("prev", substring_index(col("bigram"), " ", 1))
      .sharedCacheEager
    val bvocab = db.groupBy("bigram").agg(sum("n").as("bfreq"))
    val hist = db.groupBy("prev").agg(sum("n").as("pfreq"))
    val scalars = toks
      .select(explode(graft.functions.ShingleFunctions.tokenGramCounts(col("w"), 1))
        .as(Seq("term", "tn")))
      .agg(countDistinct("term").as("v_size"))
    db
      .join(bvocab, "bigram")
      .join(hist, "prev")
      .crossJoin(broadcast(scalars))
      .groupBy("doc_id")
      .agg(
        sum("n").cast("long").as("n_bigrams"),
        (sum(col("n").cast("double") *
          -log((col("bfreq").cast("double") + 1d) / (col("pfreq").cast("double") + col("v_size").cast("double"))))
          / sum(col("n")).cast("double")).as("raw_nll"))
      .select(col("doc_id"), col("n_bigrams"), fl(col("raw_nll"), 4).as("mean_nll"))
  }

  // ---- #71 corpus term statistics ------------------------------------------
  /** Top-k most frequent terms per language — the corpus-reporting query
    * every data build runs. Spark's WindowGroupLimit pushes the rank
    * filter below the exchange (partial top-k per map task), so the
    * shuffle carries at most k rows per (lang, task).
    */
  def topTerms(documents: DataFrame, k: Int = 10): DataFrame = {
    val terms = documents
      .select(col("lang"), explode(split(lower(trim(col("text"))), "\\s+")).as("term"))
      .filter(length(col("term")) > 0)
      .groupBy("lang", "term").agg(count(lit(1)).as("freq"))
    val w = Window.partitionBy("lang").orderBy(col("freq").desc, col("term").asc)
    terms
      .withColumn("pos", row_number().over(w).cast("long"))
      .filter(col("pos") <= k)
      .select("lang", "pos", "term", "freq")
  }

  // ---- #78 token-length percentiles ----------------------------------------
  /** Per-language token-count percentiles (p50/p90/p99) — the length
    * distribution report every corpus build emits (and the input to
    * truncation/packing decisions). Exact linear-interpolated percentile
    * (Spark `percentile` ≡ DuckDB `quantile_cont`); at 100 TB swap in
    * `approx_percentile` for one fixed-size sketch per (lang) instead of
    * the exact sort — same report schema, the exact version stays the
    * oracle.
    */
  def tokenPercentiles(documents: DataFrame): DataFrame = {
    import graft.functions.TextFunctions
    documents
      .select(col("lang"), TextFunctions.wsTokenCount(col("text")).cast("long").as("n"))
      .groupBy("lang")
      .agg(
        count(lit(1)).as("n_docs"),
        fl(expr("percentile(n, 0.5)"), 4).as("p50"),
        fl(expr("percentile(n, 0.9)"), 4).as("p90"),
        fl(expr("percentile(n, 0.99)"), 4).as("p99"))
  }

  /** Sketch twin of [[tokenPercentiles]] for the interactive path (#91):
    * `approx_percentile` (KLL-style mergeable sketch) instead of the exact
    * `percentile` — at 100 TB the exact form buffers every value per
    * group through the aggregate, the sketch is a fixed-size buffer per
    * (group, partition) merged map-side like any partial aggregate.
    * Sketch output is engine-specific → rows-only check; the spec bounds
    * its rank error against the exact twin.
    */
  def tokenPercentilesApprox(documents: DataFrame, accuracy: Int = 10000): DataFrame = {
    import graft.functions.TextFunctions
    documents
      .select(col("lang"), TextFunctions.wsTokenCount(col("text")).cast("long").as("n"))
      .groupBy("lang")
      .agg(
        count(lit(1)).as("n_docs"),
        expr(s"approx_percentile(n, 0.5, $accuracy)").cast("double").as("p50"),
        expr(s"approx_percentile(n, 0.9, $accuracy)").cast("double").as("p90"),
        expr(s"approx_percentile(n, 0.99, $accuracy)").cast("double").as("p99"))
  }

  // ---- #92 BPE merge-pair statistics -----------------------------------------
  /** The first iteration of BPE tokenizer training: corpus-wide frequency
    * of adjacent character pairs WITHIN words, top-k by count — the merge
    * candidates a byte-pair-encoding vocabulary build scores each round.
    * The stage a training-data pipeline runs between corpus prep and
    * tokenization; iterating it (merge → re-pair) is the whole trainer,
    * and each iteration is this same plan shape.
    *
    * Scale: pairs are generated IN-ROW (per-word transform over the token
    * array — no join, no per-character rows crossing any exchange until
    * the count), reduced by one partial-agg shuffle keyed by the pair
    * (≤ alphabet² distinct keys — partial aggregation absorbs virtually
    * the whole stream map-side), and top-k is a TakeOrdered, never a
    * global sort. Deterministic tiebreak on the pair string.
    */
  def bpePairs(documents: DataFrame, k: Int = 20): DataFrame =
    documents
      .select(explode(expr(
        """flatten(transform(
          | filter(split(lower(trim(text)), '\\s+'), w -> length(w) >= 2),
          | w -> transform(sequence(1, length(w) - 1), i -> substring(w, i, 2))))"""
          .stripMargin.replace("\n", ""))).as("pair"))
      .groupBy("pair").agg(count(lit(1)).as("freq"))
      .orderBy(col("freq").desc, col("pair").asc)
      .limit(k)

  /** #111 full BPE tokenizer training (the learned step above [[bpePairs]]'
    * single-round pair statistics): classic character-level BPE (Sennrich
    * et al. 2016) trained ONCE on the driver over a BOUNDED deterministic
    * sample (`orderBy(doc_id).limit(cap)` — the PQ-codebook/quality-
    * classifier train-once contract; tokenizer training sets are samples by
    * construction, the corpus is TBs). Deterministic: merge ties break
    * lexicographically. Output = the learned merge table in rank order —
    * the artifact a corpus build ships alongside the data. Rows-only by
    * design (iterative training is not SQL-expressible); spec-gated
    * against hand-computed merges.
    */
  /** The ONE sample-and-train definition shared by the merge-table
    * artifact ([[bpeTrain]]) and the corpus apply
    * (`TextOps.tokenizeBpe`) — the shipped table must always match the
    * merges actually applied.
    */
  def bpeMerges(documents: DataFrame, numMerges: Int = 64,
                sampleCap: Int = 2048): Array[String] = {
    val sample = documents.select("doc_id", "text").orderBy("doc_id").limit(sampleCap)
      .collect().map(_.getString(1))
    graft.ml.BpeTokenizer.train(sample.toSeq, numMerges)
  }

  def bpeTrain(documents: DataFrame, numMerges: Int = 64, sampleCap: Int = 2048): DataFrame = {
    val spark = documents.sparkSession
    import spark.implicits._
    bpeMerges(documents, numMerges, sampleCap).toSeq.zipWithIndex.map { case (m, r) =>
      val Array(l, rgt) = m.split(graft.ml.BpeTokenizer.SEP, 2)
      (r, l, rgt, l + rgt)
    }.toDF("rank", "left", "right", "token")
  }

  // ---- #76 end-to-end corpus build -----------------------------------------
  /** The capstone composition: clean → quality-filter → exact-dedup →
    * sequence-pack as ONE declarative plan — the whole corpus-prep
    * pipeline Catalyst can see end to end (filter pushdown through every
    * stage, one window per shard, one dedup shuffle keyed by content
    * hash). Emits, per surviving document: its shard, packed sequence id
    * and offset, token count, and quality score.
    *
    * At 100 TB this is the point of the library: the stages do NOT
    * materialize between steps — quality filtering prunes before the
    * dedup shuffle, dedup prunes before packing, and the only exchanges
    * are the content-hash groupBy and the per-shard pack window.
    */
  def corpusBuild(documents: DataFrame, minQuality: Double = 0.5,
                  capacity: Long = 512L, nShards: Int = 32): DataFrame = {
    import graft.functions.TextFunctions
    val scored = documents.select(
      col("doc_id"),
      lower(trim(col("text"))).as("clean"),
      fl(TextFunctions.qualityScore(col("text")), 4).as("quality"),
      TextFunctions.bpeTokenCount(col("text")).cast("long").as("n_tokens"))
    val kept = scored.filter(col("quality") >= minQuality)
    val sur = kept
      .withColumn("rn", row_number().over(
        Window.partitionBy(sha2(col("clean"), 256)).orderBy("doc_id")))
      .filter(col("rn") === 1)
    val w = Window.partitionBy("shard").orderBy("doc_id")
      .rowsBetween(Window.unboundedPreceding, -1)
    sur
      .select(col("doc_id"), (col("doc_id") % nShards).as("shard"),
        col("n_tokens"), col("quality"))
      .withColumn("cum_before", coalesce(sum("n_tokens").over(w), lit(0L)))
      .select(col("doc_id"), col("shard"),
        expr(s"cum_before DIV $capacity").as("seq_id"),
        (col("cum_before") % capacity).as("offset"),
        col("n_tokens"), col("quality"))
  }

}
