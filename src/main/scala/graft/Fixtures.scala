package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deterministic VERIFICATION FIXTURES — the corpus augmentation that gives
  * the oracle-checked queries verifiable positives, kept strictly OUTSIDE
  * the operator APIs: an operator (`Dedup.dedupExact(docs)`,
  * `Pipeline.repetitionScore(docs)`, …) processes the caller's corpus
  * verbatim; the planting happens only at the query-registry boundary
  * (`SparkEntry.queries` composes `Fixtures.x(docs)` into the operator, and
  * each oracle SQL embeds the matching fixture CTE so both engines see the
  * same augmented corpus).
  *
  * Why planting exists at all: the synthetic testdata corpus has no natural
  * duplicates, no benchmark contamination, no within-doc repetition, and is
  * ASCII-only — without planted positives the dedup / decontamination /
  * repetition / charset-classifier pipelines would be verified only on the
  * trivial all-negative path. Every fixture is a pure deterministic
  * function of (doc_id, text); its DuckDB twin is
  * [[graft.oracle.TextOracle]].
  */
object Fixtures {

  // ---- deterministic stream timestamps (embedding-stream twins) ------------
  /** Epoch base for vec_id-derived timestamps (2023-11-14T22:13:20Z). */
  val TS_EPOCH_BASE = 1700000000L

  /** Embeddings with a deterministic event time (one per minute by vec_id)
    * — the parquet table has no timestamp column, so the streaming twins
    * derive one the same way on both engines.
    */
  def timedEmbeddings(embeddings: DataFrame): DataFrame =
    embeddings.withColumn("ts",
      timestamp_seconds(lit(TS_EPOCH_BASE) + col("vec_id") * 60))

  // ---- planted near/exact duplicates (dedup suite input) -------------------
  private[graft] val NEAR_OFF = 10000000L
  private[graft] val EXACT_OFF = 20000000L

  /** Corpus + planted near-duplicates (last 5 words dropped, doc_id + 1e7)
    * and exact duplicates (doc_id + 2e7), text canonicalized the same way
    * the dedup operators canonicalize internally.
    */
  def plantedDocs(documents: DataFrame): DataFrame = {
    val w = split(lower(trim(col("text"))), "\\s+")
    val base = documents.select(col("doc_id"), lower(trim(col("text"))).as("text"))
    val near = documents
      .filter(col("doc_id") % 5 === 0 && size(w) > 10)
      .select((col("doc_id") + NEAR_OFF).as("doc_id"),
        concat_ws(" ", slice(w, lit(1), size(w) - 5)).as("text"))
    val exact = documents
      .filter(col("doc_id") % 25 === 0)
      .select((col("doc_id") + EXACT_OFF).as("doc_id"), lower(trim(col("text"))).as("text"))
    base.unionByName(near).unionByName(exact)
  }

  // ---- benchmark eval-set carve (decontamination input) --------------------
  /** A stand-in benchmark: for every doc with doc_id % 17 = 0, words 3..22
    * become an eval prompt. The source docs are genuinely contaminated —
    * they contain the prompt verbatim — so `Pipeline.decontaminate` gets
    * verifiable positives.
    */
  def evalPrompts(documents: DataFrame): DataFrame = {
    val w = split(lower(trim(col("text"))), "\\s+")
    documents.filter(col("doc_id") % 17 === 0)
      .select(col("doc_id"), concat_ws(" ", slice(w, 3, 20)).as("text"))
  }

  // ---- labeled quality corpus (learned-classifier input) -------------------
  /** Docs with doc_id % 7 = 0 get a spam-marker tail planted — verifiable
    * junk for `TextOps.qualityClassifier` on a corpus with no natural spam.
    */
  def qualityCorpus(documents: DataFrame): DataFrame =
    documents.withColumn("text",
      when(col("doc_id") % 7 === 0,
        concat_ws(" ", coalesce(col("text"), lit("")),
          lit("click here buy now free offer winner prize claim instant cash bonus")))
        .otherwise(col("text")))

  /** The labeled subset of [[qualityCorpus]]: planted-spam docs labeled 0.0,
    * a disjoint deterministic slice of untouched docs labeled 1.0.
    */
  def qualityLabels(documents: DataFrame): DataFrame =
    qualityCorpus(documents)
      .filter(col("doc_id") % 7 === 0 || col("doc_id") % 11 === 0)
      .select(col("doc_id"), col("text"),
        when(col("doc_id") % 7 === 0, lit(0d)).otherwise(lit(1d)).as("label"))

  // ---- within-doc repetition injection (repetition-score input) ------------
  /** Docs with doc_id % 9 = 0 get their first six words appended twice —
    * verifiable positives for `Pipeline.repetitionScore` on a corpus that
    * is naturally repetition-free.
    */
  def repeatedDocs(documents: DataFrame): DataFrame = {
    val base = lower(trim(col("text")))
    val rep = array_join(slice(split(base, "\\s+"), 1, 6), " ")
    documents.select(col("doc_id"),
      when(col("doc_id") % 9 === 0, concat_ws(" ", base, rep, rep))
        .otherwise(base).as("text"))
  }

  // ---- charset augmentation (text-classifier inputs) -----------------------
  /** The corpus is ASCII-only, so the charset-sensitive classifiers
    * (categorize / langId / humor) are fed a deterministically augmented
    * message column: a CASE on doc_id injects hiragana / katakana / han /
    * hangul / cyrillic / emoji / numeric / badge markers, so every branch
    * of the real classifier is end-to-end verified.
    */
  def charsetText: Column = {
    val t = col("text"); val m = col("doc_id") % 11
    when(m === 0, concat(lit("こんにちは "), substring(t, 1, 40)))
      .when(m === 1, concat(lit("カタカナ "), substring(t, 1, 40)))
      .when(m === 2, concat(lit("漢字 "), substring(t, 1, 40)))
      .when(m === 3, concat(substring(t, 1, 40), lit(" すごい！")))
      .when(m === 4, lit("wwww"))
      .when(m === 5, concat(lit("한국어 "), substring(t, 1, 40)))
      .when(m === 6, concat(lit("русский "), substring(t, 1, 40)))
      .when(m === 7, lit("12345"))
      .when(m === 8, lit(":_konkonmori: :_wave:"))
      .when(m === 9, lit("🎉 🎉"))
      .otherwise(t)
  }

  /** (doc_id, text) with the charset-augmented message as `text`. */
  def charsetDocs(documents: DataFrame): DataFrame =
    documents.select(col("doc_id"), charsetText.as("text"))

  /** Membership badge strings covering every parser branch. */
  def badgeText: Column = {
    val m = col("doc_id") % 6
    when(m === 0, lit(null).cast("string"))
      .when(m === 1, lit("New member"))
      .when(m === 2, concat((col("doc_id") % 23).cast("string"), lit(" months")))
      .when(m === 3, concat((col("doc_id") % 5).cast("string"), lit(" years")))
      .when(m === 4, lit("Member (1 year)"))
      .otherwise(lit("hello"))
  }

  /** (doc_id, badge) with the synthesized badge string. */
  def badgeDocs(documents: DataFrame): DataFrame =
    documents.select(col("doc_id"), badgeText.as("badge"))

  /** Humor-marker augmentation (lol / 草 / ｗｗ / haha variants). */
  def humorText: Column = {
    val t = col("text"); val m = col("doc_id") % 7
    when(m === 0, concat(substring(t, 1, 30), lit(" lol")))
      .when(m === 1, concat(lit("草 "), substring(t, 1, 30)))
      .when(m === 2, lit("hahaha that was great"))
      .when(m === 3, concat(lit("笑いすぎた"), lit("ｗｗ")))
      .when(m === 4, lit("looool"))
      .otherwise(t)
  }

  /** (doc_id, text) with the humor-augmented message as `text`. */
  def humorDocs(documents: DataFrame): DataFrame =
    documents.select(col("doc_id"), humorText.as("text"))

  // ---- PII injection (scrub-pipeline input) --------------------------------
  /** Deterministic emails / phones / SSNs woven into the text so
    * `TextOps.piiScrubDocs` has verifiable positives.
    */
  def piiText: Column = {
    val t = substring(col("text"), 1, 60); val m = col("doc_id") % 5
    when(m === 0, concat(t, lit(" contact me at user"), col("doc_id"), lit("@example.com")))
      .when(m === 1, concat(lit("call 555-"), format_string("%03d", col("doc_id") % 1000),
        lit("-4567 "), t))
      .when(m === 2, concat(t, lit(" ssn 123-45-6789")))
      .otherwise(t)
  }

  def piiDocs(documents: DataFrame): DataFrame =
    documents.select(col("doc_id"), piiText.as("text"))

  // ---- markup injection (HTML-strip input) ---------------------------------
  /** Deterministic tags/entities wrapped around the text so
    * `TextOps.stripHtmlDocs` has verifiable positives.
    */
  def htmlText: Column = {
    val t = substring(col("text"), 1, 60); val m = col("doc_id") % 4
    when(m === 0, concat(lit("<html><body><p>"), t, lit("</p><br/><div class=\"x\">footer</div></body></html>")))
      .when(m === 1, concat(lit("<a href=\"http://example.com?a=1&amp;b=2\">"), t, lit("</a> &lt;3")))
      .when(m === 2, concat(lit("x &gt; y &amp;&amp; y &lt; z: "), t))
      .otherwise(t)
  }

  def htmlDocs(documents: DataFrame): DataFrame =
    documents.select(col("doc_id"), htmlText.as("text"))

  // ---- search-operator injection (query-parser input) ----------------------
  /** channel:/from:/to: operator strings (including an INVALID date arm to
    * exercise the validation path) so `TextOps.parseQueryDocs` covers every
    * branch of the reference grammar.
    */
  def queryText: Column = {
    val t = substring(col("text"), 1, 40); val m = col("doc_id") % 5
    when(m === 0, concat(lit("channel:\"Pekora Ch.\" from:2024-01-15 "), t))
      .when(m === 1, concat(t, lit(" channel:chan_"), (col("doc_id") % 7).cast("string")))
      .when(m === 2, concat(t, lit(" from:2024-02-30")))
      .when(m === 3, concat(t, lit(" to:2024-03-10 till then")))
      .otherwise(t)
  }

  def queryDocs(documents: DataFrame): DataFrame =
    documents.select(col("doc_id"), queryText.as("text"))
}
