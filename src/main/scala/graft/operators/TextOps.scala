package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.TextFunctions._

/** Text-suite queries over `documents` (SURVEY §2 #1-3, #45-48).
  *
  * Every operator classifies the caller's column verbatim; the charset
  * augmentation that exercises the non-ASCII branches lives in
  * [[graft.Fixtures]] (charsetDocs / badgeDocs / humorDocs) and is composed
  * in only at the SparkEntry registry boundary — the identical CASE exists
  * in each oracle SQL, so every branch of the real classifier is still
  * end-to-end verified.
  *
  * Scale: all of these are narrow per-row projections — no shuffle at all;
  * they pipeline inside one WholeStageCodegen over the parquet scan.
  */
object TextOps {

  // ---- queries -------------------------------------------------------------

  /** #1 charset classifier (chat_parser.categorize_message). */
  def categorizeDocs(documents: DataFrame): DataFrame =
    documents.select(col("doc_id"), categorize(col("text")).as("category"))

  /** #2 membership badge parser (chat_parser.parse_membership_rank). */
  def membershipRankDocs(documents: DataFrame): DataFrame =
    documents.select(col("doc_id"), membershipRank(col("badge")).as("rank_months"))

  /** #3 humor detector (feature_analysis.has_humor). */
  def humorDocs(documents: DataFrame): DataFrame =
    documents.select(col("doc_id"), hasHumor(col("text")).as("is_humor"))

  /** #45 language ID over augmented messages. */
  def langIdDocs(documents: DataFrame): DataFrame =
    documents.select(col("doc_id"), langId(col("text")).as("lang_id"))

  /** #46 quality scoring over the raw corpus. */
  def qualityDocs(documents: DataFrame): DataFrame =
    documents.select(
      col("doc_id"),
      wsTokenCount(col("text")).cast("long").as("n_words"),
      EventSemantics.fl(qualityScore(col("text")), 4).as("quality"))

  /** #81 Gopher rule filter: the published hard rules as per-doc flags +
    * keep verdict (the stage BEFORE score-ranking in a corpus build).
    * Pure in-row projection — zero exchanges; at 100 TB this is the text
    * scan itself, and `keep` pushes down as a plain boolean filter for
    * every downstream consumer.
    */
  def gopherRulesDocs(documents: DataFrame): DataFrame = {
    val t = col("text")
    val words = gopherWords(t)
    val mwl = gopherMwl(t)
    val sym = gopherSymbolRatio(t)
    val alpha = gopherAlphaFrac(t)
    val stops = gopherStopCount(t)
    val zero = words === 0d
    // thresholds live in ONE place (TextFunctions.gopherRuleCols), shared
    // with Pipeline.datasetCard's keep rate
    val Seq(rLen, rMwl, rSym, rAlpha, rStop) = gopherRuleCols(t)
    documents.select(
      col("doc_id"),
      words.cast("long").as("n_words"),
      when(zero, 0d).otherwise(EventSemantics.fl(mwl, 6)).as("mean_word_len"),
      when(zero, 0d).otherwise(EventSemantics.fl(sym, 6)).as("symbol_ratio"),
      when(zero, 0d).otherwise(EventSemantics.fl(alpha, 6)).as("alpha_frac"),
      stops.as("n_stop"),
      rLen.as("r_len"), rMwl.as("r_mwl"), rSym.as("r_symbol"),
      rAlpha.as("r_alpha"), rStop.as("r_stop"),
      (rLen && rMwl && rSym && rAlpha && rStop).as("keep"))
  }

  /** #47 token counting (whitespace + BPE-ish). */
  def tokenCountDocs(documents: DataFrame): DataFrame =
    documents.select(
      col("doc_id"),
      wsTokenCount(col("text")).cast("long").as("ws_tokens"),
      bpeTokenCount(col("text")).cast("long").as("bpe_tokens"))

  /** #48 order-sensitive fingerprints. */
  def fingerprintDocs(documents: DataFrame): DataFrame =
    documents.select(
      col("doc_id"),
      md5Fingerprint(col("text")).as("fp_md5"),
      polyFingerprint(col("text")).as("fp_poly"))

  // ---- #79 character-entropy scoring ---------------------------------------
  /** Shannon entropy of the per-document character distribution (nats) —
    * the classic gibberish/binary-junk detector of a corpus quality
    * pipeline: natural text sits ~2.5-3.5 nats, repeated-char spam near 0,
    * random bytes near ln(alphabet).
    *
    * Computed IN-ROW: explode-free — the distinct-char set and each
    * char's count come from `array_distinct`/`filter` over the in-row
    * char array, so the whole scorer pipelines inside one
    * WholeStageCodegen span over the scan (zero exchanges, preserving the
    * t_* plan invariant). O(distinct × length) per doc — bounded by
    * alphabet size, not corpus size.
    */
  def charEntropyDocs(documents: DataFrame): DataFrame =
    documents
      // Degenerate-text contract, pinned IDENTICALLY in the oracle: empty
      // AND null text score (0, 0.0) — the coalesce folds null into the
      // expression's empty-string case; the oracle's chars CTE drops
      // DuckDB's [''] split artifact with c <> '' and its LEFT JOIN +
      // COALESCE covers both cases. The fold is ONE codegen'd
      // CharEntropyStats pass (O(length), no per-char array) whose FP
      // accumulation order matches the former interpreted
      // aggregate-over-array_distinct chain bit-for-bit
      // (ExpressionPropertySpec pins it).
      .select(col("doc_id"),
        graft.functions.ShingleFunctions.charEntropyStats(
          coalesce(col("text"), lit(""))).as("st"))
      .select(col("doc_id"),
        col("st").getField("n_chars").as("n_chars"),
        EventSemantics.fl(col("st").getField("raw_h"), 4).as("entropy"))

  // ---- #58 PII scrubbing ---------------------------------------------------
  // Scrubs the caller's text verbatim; the PII injection that gives the
  // oracle verifiable positives lives in graft.Fixtures.piiDocs. Patterns
  // use RE2-compatible syntax so Spark (Java regex) and DuckDB (RE2) agree.
  private[graft] val emailPat = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  private[graft] val phonePat = "\\b[0-9]{3}-[0-9]{3}-[0-9]{4}\\b"
  private[graft] val ssnPat = "\\b[0-9]{3}-[0-9]{2}-[0-9]{4}\\b"

  // ---- #69 HTML/boilerplate stripping --------------------------------------
  // Web-corpus cleaning over the caller's text verbatim (markup fixture:
  // graft.Fixtures.htmlDocs) — tags removed, the four standard entities
  // unescaped, whitespace collapsed. Pure in-row regex chain: zero
  // shuffle, no UDF.
  private[graft] val tagPat = "<[^>]+>"

  /** #69 strip markup: tag count + cleaned text (tags → space, entities
    * unescaped, whitespace collapsed, trimmed).
    */
  def stripHtmlDocs(documents: DataFrame): DataFrame = {
    val raw = col("text")
    val cleaned = trim(regexp_replace(
      regexp_replace(
        regexp_replace(
          regexp_replace(
            regexp_replace(regexp_replace(raw, tagPat, " "), "&amp;", "&"),
            "&lt;", "<"),
          "&gt;", ">"),
        "&quot;", "\""),
      "\\s+", " "))
    documents.select(
      col("doc_id"),
      regexp_count(raw, lit(tagPat)).cast("long").as("n_tags"),
      cleaned.as("cleaned"))
  }

  /** #58 PII scrub: count + redact emails/phones/SSNs (SSNs first — the
    * phone pattern would otherwise half-match an SSN).
    */
  def piiScrubDocs(documents: DataFrame): DataFrame = {
    val msg = col("text")
    val scrubbed = regexp_replace(
      regexp_replace(
        regexp_replace(msg, ssnPat, "<SSN>"),
        phonePat, "<PHONE>"),
      emailPat, "<EMAIL>")
    documents.select(
      col("doc_id"),
      regexp_count(msg, lit(emailPat)).cast("long").as("n_emails"),
      regexp_count(msg, lit(phonePat)).cast("long").as("n_phones"),
      regexp_count(msg, lit(ssnPat)).cast("long").as("n_ssns"),
      scrubbed.as("scrubbed"))
  }

  // ---- #90 search-query operator parsing ------------------------------------
  // parse_search_query (web/utils.py:288): extract `channel:"..."` /
  // `channel:x` / `from:YYYY-MM-DD` / `to:YYYY-MM-DD` operators from a raw
  // search string, validate the dates, and return the residual free-text
  // query — the structured-filter front end of search_highlights (#36).
  // Parses the caller's text verbatim (operator-string fixture with an
  // INVALID date arm: graft.Fixtures.queryDocs). One deliberate deviation from the
  // reference: removal strips EVERY occurrence of an operator, not just
  // the first (re.search splice) — identical on single-occurrence inputs,
  // and the saner cleaning rule; RE2-compatible patterns as in the PII op.
  private val chanPat = "channel:\"([^\"]+)\"|channel:(\\S+)"
  private val fromPat = "from:(\\d{4}-\\d{2}-\\d{2})"
  private val toPat = "to:(\\d{4}-\\d{2}-\\d{2})"

  def parseQueryDocs(documents: DataFrame): DataFrame = {
    val q = col("text")
    documents
      .select(
        col("doc_id"),
        coalesce(
          nullif(regexp_extract(q, chanPat, 1), lit("")),
          nullif(regexp_extract(q, chanPat, 2), lit(""))).as("channel_raw"),
        nullif(regexp_extract(q, fromPat, 1), lit("")).as("from_s"),
        nullif(regexp_extract(q, toPat, 1), lit("")).as("to_s"),
        trim(regexp_replace(regexp_replace(regexp_replace(q,
          chanPat, ""), fromPat, ""), toPat, "")).as("clean_raw"))
      .withColumn("from_d", expr("try_to_date(from_s)"))
      .withColumn("to_d", expr("try_to_date(to_s)"))
      .withColumn("error",
        when(col("from_s").isNotNull && col("from_d").isNull,
          concat(lit("invalid from date: "), col("from_s")))
          .when(col("to_s").isNotNull && col("to_d").isNull,
            concat(lit("invalid to date: "), col("to_s"))))
      // the reference returns (None, None, error) on a validation failure:
      // every parsed field nulls out, only the error survives
      .select(
        col("doc_id"),
        when(col("error").isNull, col("clean_raw")).as("clean_query"),
        when(col("error").isNull, col("channel_raw")).as("channel_name"),
        when(col("error").isNull, col("from_d")).as("from_date"),
        when(col("error").isNull, col("to_d")).as("to_date"),
        col("error"))
  }

  // ---- learned BPE tokenization --------------------------------------------
  /** #112 corpus-wide tokenization with a LEARNED BPE vocabulary — the real
    * token accounting of a training-data build, vs [[tokenCountDocs]]'
    * fixed regex approximations. Merges are trained once on a bounded
    * sample ([[Pipeline.bpeTrain]]'s contract, same trainer) and baked
    * into the plan; encoding is the codegen'd in-row
    * [[graft.functions.BpeEncode]] expression — zero exchanges at any
    * corpus size (the t_ plan audit pins it). The spec pins Spark ≡
    * driver-encoder equality and merge-count monotonicity.
    */
  def tokenizeBpe(documents: DataFrame, numMerges: Int = 64,
                  sampleCap: Int = 2048): DataFrame =
    tokenizeBpe(documents, Pipeline.bpeMerges(documents, numMerges, sampleCap))

  def tokenizeBpe(documents: DataFrame, merges: Array[String]): DataFrame = {
    // null text = empty doc (0 tokens), matching the oracle's left-join
    // fallback — without the coalesce, BpeEncode null-propagates and
    // size(NULL) diverges from the twin's 0
    val toks = graft.functions.TokenizerFunctions.bpeEncode(
      coalesce(col("text"), lit("")), merges)
    documents
      .select(col("doc_id"), col("text"), toks.as("_bpe"))
      .select(col("doc_id"),
        size(col("_bpe")).cast("long").as("bpe_tokens"),
        wsTokenCount(col("text")).cast("long").as("ws_words"),
        when(size(col("_bpe")) > 0,
          EventSemantics.fl(length(col("text")).cast("double") / size(col("_bpe")).cast("double"), 4))
          .otherwise(lit(0d)).as("chars_per_token"))
  }

  // ---- learned quality classifier ------------------------------------------
  /** Hashed-bag-of-words logistic-regression quality scoring — the LEARNED
    * filter rung above [[qualityScoreDocs]]'s fixed heuristics (the
    * fastText-classifier stage of DataComp/RefinedWeb-style recipes).
    *
    * `labeled` is a (doc_id, text, label) relation (label 1.0 = quality,
    * 0.0 = junk) — the real API shape; the oracle registry feeds it
    * [[graft.Fixtures.qualityLabels]]. Training happens ONCE on the driver
    * over a BOUNDED deterministic sample (`orderBy(doc_id).limit(cap)` — a
    * top-k, never a full sort; labeled quality sets are thousands of rows
    * while the corpus is TBs), via [[graft.ml.QualityClassifier]] —
    * deterministic zero-init full-batch Adam, the same bounded-collect
    * train-once contract as the PQ codebook. Scoring is a pure in-row
    * projection: the weight vector rides along as ONE array literal and
    * `aggregate(tokens, …)` folds bucket weights inside whole-stage
    * codegen over the scan — zero exchanges at any scale (the t_ plan
    * audit pins it).
    */
  def qualityClassifier(documents: DataFrame, labeled: DataFrame,
                        buckets: Int = 1024, sampleCap: Int = 2048): DataFrame =
    qualityClassifier(documents, trainQualityClassifier(labeled, buckets, sampleCap))

  /** [[qualityClassifier]]'s trained model: (weights[buckets], bias). */
  def trainQualityClassifier(labeled: DataFrame, buckets: Int = 1024,
                             sampleCap: Int = 2048): (Array[Double], Double) = {
    val sample = labeled.select("doc_id", "text", "label")
      .orderBy("doc_id").limit(sampleCap)
      .collect().map(r => (r.getString(1), r.getDouble(2))).toSeq
    graft.ml.QualityClassifier.train(sample, buckets)
  }

  def qualityClassifier(documents: DataFrame, model: (Array[Double], Double)): DataFrame = {
    val (w, b) = model
    val buckets = w.length
    // coalesce: NULL text must score like the driver's tokens(null) = []
    // (the neutral sigmoid(b)), not propagate NULL past the size guard
    val toks = expr("filter(split(lower(trim(coalesce(text, ''))), '\\\\s+'), t -> length(t) > 0)")
    val sumW = expr(
      s"""aggregate(_qc_toks, CAST(0 AS DOUBLE), (acc, t) ->
         | acc + element_at(_qc_w, CAST(CAST(conv(substring(md5(t), 1, 15), 16, 10) AS BIGINT) % $buckets AS INT) + 1))"""
        .stripMargin.replace("\n", ""))
    documents
      .select(col("doc_id"), toks.as("_qc_toks"),
        typedlit(w.toSeq).as("_qc_w"))
      .select(col("doc_id"),
        (lit(b) + when(size(col("_qc_toks")) <= 0, lit(0d))
          .otherwise(sumW / size(col("_qc_toks")).cast("double"))).as("_qc_z"))
      .select(col("doc_id"),
        EventSemantics.fl(lit(1d) / (lit(1d) + exp(-col("_qc_z"))), 4).as("score"))
      .select(col("doc_id"), col("score"), (col("score") >= 0.5).as("is_quality"))
  }

}
