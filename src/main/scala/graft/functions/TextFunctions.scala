package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text classifiers/scorers as pure `Column` expression trees (regexp_*,
  * aggregate, transform — all codegen'd built-ins, no UDFs), each with a
  * DuckDB-dialect SQL twin defined next to it so Spark and oracle cannot
  * drift.
  *
  * Dialect note: Spark compiles to Java regex (`\p{IsHiragana}` script
  * syntax), DuckDB to RE2 (`\p{Hiragana}`); the *semantics* are pinned to
  * be identical. Reference behavior:
  * mipacd/HoloChatStats `data_ingestion/utils/chat_parser.py:60`
  * (categorize_message), `:11` (parse_membership_rank),
  * `data_ingestion/utils/feature_analysis.py:7` (has_humor).
  */
object TextFunctions {

  // Java (Spark) vs RE2 (DuckDB) script-class spellings.
  private val jpJ = "[\\p{IsHiragana}\\p{IsKatakana}\\p{IsHan}]"
  private[graft] val jpD = "[\\p{Hiragana}\\p{Katakana}\\p{Han}]"
  private val krJ = "[\\p{IsHangul}]"; private[graft] val krD = "[\\p{Hangul}]"
  private val ruJ = "[\\p{IsCyrillic}]"; private[graft] val ruD = "[\\p{Cyrillic}]"

  // ---- categorize_message (chat_parser.py:60) ------------------------------
  // Cascade: pure-emoji -> jp (script | ！？ | ^[wｗ]+$) -> kr -> ru ->
  // numeric -> es_en_id.
  private def isPureEmojiC(c: Column): Column = {
    val noShort = regexp_replace(c, ":[^:\\s]+:", "")
    val noEmoji = regexp_replace(noShort, "[\\p{So}]", "")
    val remainder = regexp_replace(noEmoji, "[\\s\\x{200D}\\x{FE0E}\\x{FE0F}]", "")
    remainder === "" && (noShort =!= c || noEmoji =!= noShort)
  }

  def categorize(c: Column): Column = {
    val lo = lower(trim(c))
    when(c.isNull || trim(c) === "", lit(null).cast("string"))
      .when(isPureEmojiC(trim(c)), "emoji")
      // \z, not $: Java's $ matches BEFORE a trailing newline while
      // DuckDB's RE2 $ means absolute end — on "123\n" a $-anchored
      // pattern would classify 'number' here and 'es_en_id' in the
      // oracle. \z is Java's absolute-end anchor = RE2's $.
      .when(lo.rlike(jpJ) || lo.rlike("[！？]") || lo.rlike("^[wｗ]+\\z"), "jp")
      .when(lo.rlike(krJ), "kr")
      .when(lo.rlike(ruJ), "ru")
      .when(lo.rlike("^[0-9]+\\z"), "number")
      .otherwise("es_en_id")
  }

  // ---- parse_membership_rank (chat_parser.py:11) ---------------------------
  // '' / null -> -1; 'new member' -> 0; 'N month(s)' -> N; 'N year(s)' -> 12N.
  def membershipRank(c: Column): Column = {
    val lo = lower(trim(coalesce(c, lit(""))))
    val num = regexp_extract(lo, "(\\d+)\\s*(month|year)", 1)
    val unit = regexp_extract(lo, "(\\d+)\\s*(month|year)", 2)
    when(lo === "", -1)
      .when(lo.contains("new member"), 0)
      .when(num =!= "", when(unit === "year", num.cast("int") * 12).otherwise(num.cast("int")))
      .otherwise(-1)
  }

  // ---- has_humor (feature_analysis.py:7) -----------------------------------
  private[graft] val humorList = Seq(
    "草", "茶葉", "_fbkcha", "_lol", "lmao", "lmfao", "haha", "🤣", "😆",
    "jaja", "笑", "xd", "wkwk", "ｗ", "rofl", "kek", "looool", "xddd")

  def hasHumor(c: Column): Column = {
    val anySub = humorList.map(s => c.contains(s)).reduce(_ || _)
    val hasJp = c.rlike(jpJ)
    val wEnd = hasJp && c.rlike("ｗ+\\z") // \z = RE2 $ (see categorize)
    val hasLol = c.rlike("(?i)\\blol+\\b")
    val repeated = c.rlike("(?i)(ha){2,}|(w{2,})|(o?l{2,}o+l+)")
    anySub || hasLol || wEnd || repeated
  }

  // ---- language ID heuristic (training-data op #45) ------------------------
  // Script cascade, then stopword evidence for English, else unk.
  def langId(c: Column): Column = {
    val lo = lower(c)
    when(c.isNull, lit(null).cast("string"))
      .when(lo.rlike(jpJ), "ja")
      .when(lo.rlike(krJ), "ko")
      .when(lo.rlike(ruJ), "ru")
      .when(lo.rlike("\\b(the|and|of|to|in|is|it|for|that|with)\\b"), "en")
      .otherwise("unk")
  }

  // ---- token counting (training-data op #47) -------------------------------
  /** Whitespace tokens. */
  def wsTokenCount(c: Column): Column = regexp_count(c, lit("\\S+"))

  /** BPE-ish pre-tokenizer: letter runs, single digits, single symbols. */
  private val bpePat = "[A-Za-z]+|[0-9]|[^A-Za-z0-9\\s]"
  def bpeTokenCount(c: Column): Column = regexp_count(c, lit(bpePat))

  // ---- quality score (training-data op #46) --------------------------------
  // Blend of length, stopword-ratio proximity to 0.4, symbol ratio, mean
  // word length — all exact double arithmetic (no transcendentals).
  def qualityScore(c: Column): Column = {
    val words = wsTokenCount(c).cast("double")
    val stops = regexp_count(lower(c), lit("\\b(the|a|and|of|to|in|is|it|for|on)\\b")).cast("double")
    val punct = regexp_count(c, lit("[^A-Za-z0-9\\s]")).cast("double")
    val chars = length(regexp_replace(c, "\\s", "")).cast("double")
    val lenScore = least(words / 100d, lit(1d))
    val stopScore = lit(1d) - least(abs(stops / words - 0.4d) / 0.4d, lit(1d))
    val punctScore = lit(1d) - least(punct / chars * 5d, lit(1d))
    val mwlScore = least(chars / words / 8d, lit(1d))
    when(words === 0d, 0d)
      .otherwise(lenScore * 0.25d + stopScore * 0.25d + punctScore * 0.25d + mwlScore * 0.25d)
  }

  // ---- Gopher-style rule filter (training-data op #81) ---------------------
  /** The published Gopher repetition/quality RULES (Rae et al. 2021, §A1.1)
    * as explicit per-document flags — distinct from [[qualityScore]], which
    * BLENDS signals into one number: a corpus build filters on hard rules
    * first, then ranks survivors by score. Thresholds follow the paper
    * (word count 50..100k, mean word length 3..10, symbol-to-word < 0.1,
    * ≥ 80% words with an alphabetic char, ≥ 2 distinct stopwords).
    * All in-row exact double arithmetic — zero exchanges (t_ invariant).
    */
  private[graft] val gopherStops = Seq("the", "be", "to", "of", "and", "that", "have", "with")

  def gopherWords(c: Column): Column = wsTokenCount(c).cast("double")
  def gopherMwl(c: Column): Column =
    length(regexp_replace(c, "\\s", "")).cast("double") / gopherWords(c)
  def gopherSymbolRatio(c: Column): Column =
    (regexp_count(c, lit("#")) + regexp_count(c, lit("\\.\\.\\.")))
      .cast("double") / gopherWords(c)
  def gopherAlphaFrac(c: Column): Column =
    regexp_count(c, lit("\\S*[A-Za-z]\\S*")).cast("double") / gopherWords(c)
  def gopherStopCount(c: Column): Column =
    gopherStops.map(s => when(lower(c).rlike(s"\\b$s\\b"), 1).otherwise(0))
      .reduce[Column](_ + _).cast("long")

  /** The five Gopher-rule predicates at the canonical thresholds
    * (50–100k words, mean word length 3–10, symbol ratio < 0.1, alpha
    * fraction > 0.8, ≥ 2 distinct stopwords) — the SINGLE definition of
    * the thresholds, consumed by both `TextOps.gopherRulesDocs` (per-rule
    * flags) and `Pipeline.datasetCard` (keep rate); a threshold change
    * here moves both surfaces in step. Zero-word docs fail every
    * word-derived rule (the ratios are NULL-div there otherwise).
    */
  def gopherRuleCols(t: Column): Seq[Column] = {
    val words = gopherWords(t)
    val zero = words === 0d
    Seq(
      !zero && words >= 50d && words <= 100000d,
      !zero && gopherMwl(t) >= 3d && gopherMwl(t) <= 10d,
      !zero && gopherSymbolRatio(t) < 0.1d,
      !zero && gopherAlphaFrac(t) > 0.8d,
      gopherStopCount(t) >= 2L)
  }

  /** All five rules ANDed — the Gopher keep decision. */
  def gopherKeep(t: Column): Column = gopherRuleCols(t).reduce(_ && _)

  // ---- document fingerprint (training-data op #48) -------------------------
  /** Canonical-token md5 fingerprint (whitespace-normalization invariant). */
  def md5Fingerprint(c: Column): Column =
    md5(concat_ws(" ", split(lower(trim(c)), "\\s+")))

  /** Order-sensitive polynomial rolling hash: left fold
    * acc = (acc * 131 + tokenId) mod 1e9+7 where tokenId is a 24-bit
    * md5-derived word id — exact BIGINT arithmetic in both engines.
    */
  def polyFingerprint(c: Column): Column = {
    val toks = split(lower(trim(c)), "\\s+")
    val ids = transform(toks, t => conv(substring(md5(t), 1, 6), 16, 10).cast("long"))
    aggregate(ids, lit(0L), (acc, x) => (acc * 131L + x) % 1000000007L)
  }
}
