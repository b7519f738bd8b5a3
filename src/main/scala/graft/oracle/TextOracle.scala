package graft.oracle

import Oracle.{dl, dlist}

/** DuckDB twins of the text family: the text functions, the text
  * operators and the verification fixtures' corpus augmentation.
  */
object TextOracle {
  import graft.functions.TextFunctions._
  import graft.Fixtures._
  import graft.operators.TextOps._

  /** Java's default `\s` class spelled explicitly, for DuckDB twins: RE2's
    * `\s` lacks U+000B (vertical tab), so every oracle regex uses these
    * classes instead of `\s`/`\S` — otherwise a VT inside text makes the
    * two engines tokenize differently and fails the gate.
    */
  val WS_SQL = "[ \\t\\n\\x0B\\f\\r]"
  val NWS_SQL = "[^ \\t\\n\\x0B\\f\\r]"

  private def isPureEmojiSql(e: String): String = {
    val noShort = s"regexp_replace($e, ':[^: \\t\\n\\x0B\\f\\r]+:', '', 'g')"
    val noEmoji = s"regexp_replace($noShort, '[\\p{So}]', '', 'g')"
    val remainder = s"regexp_replace($noEmoji, '[ \\t\\n\\x0B\\f\\r\\x{200D}\\x{FE0E}\\x{FE0F}]', '', 'g')"
    s"($remainder = '' AND ($noShort <> $e OR $noEmoji <> $noShort))"
  }

  def categorizeSql(e: String): String = {
    val lo = s"lower(trim($e))"
    s"""CASE WHEN $e IS NULL OR trim($e) = '' THEN NULL
       | WHEN ${isPureEmojiSql(s"trim($e)")} THEN 'emoji'
       | WHEN regexp_matches($lo, '$jpD') OR regexp_matches($lo, '[！？]')
       |      OR regexp_matches($lo, '^[wｗ]+$$') THEN 'jp'
       | WHEN regexp_matches($lo, '$krD') THEN 'kr'
       | WHEN regexp_matches($lo, '$ruD') THEN 'ru'
       | WHEN regexp_matches($lo, '^[0-9]+$$') THEN 'number'
       | ELSE 'es_en_id' END""".stripMargin.replace("\n", "")
  }

  def membershipRankSql(e: String): String = {
    val lo = s"lower(trim(coalesce($e, '')))"
    val num = s"regexp_extract($lo, '(\\d+)$WS_SQL*(month|year)', 1)"
    val unit = s"regexp_extract($lo, '(\\d+)$WS_SQL*(month|year)', 2)"
    s"""CASE WHEN $lo = '' THEN -1
       | WHEN contains($lo, 'new member') THEN 0
       | WHEN $num <> '' THEN CASE WHEN $unit = 'year'
       |   THEN CAST($num AS INT) * 12 ELSE CAST($num AS INT) END
       | ELSE -1 END""".stripMargin.replace("\n", "")
  }

  def hasHumorSql(e: String): String = {
    val anySub = humorList.map(s => s"contains($e, '$s')").mkString(" OR ")
    s"""($anySub
       | OR regexp_matches($e, '(?i)\\blol+\\b')
       | OR (regexp_matches($e, '$jpD') AND regexp_matches($e, 'ｗ+$$'))
       | OR regexp_matches($e, '(?i)(ha){2,}|(w{2,})|(o?l{2,}o+l+)'))""".stripMargin.replace("\n", "")
  }

  def langIdSql(e: String): String = {
    val lo = s"lower($e)"
    s"""CASE WHEN $e IS NULL THEN NULL
       | WHEN regexp_matches($lo, '$jpD') THEN 'ja'
       | WHEN regexp_matches($lo, '$krD') THEN 'ko'
       | WHEN regexp_matches($lo, '$ruD') THEN 'ru'
       | WHEN regexp_matches($lo, '\\b(the|and|of|to|in|is|it|for|that|with)\\b') THEN 'en'
       | ELSE 'unk' END""".stripMargin.replace("\n", "")
  }

  def wsTokenCountSql(e: String): String = s"len(regexp_extract_all($e, '$NWS_SQL+'))"
  private val bpePatSql = "[A-Za-z]+|[0-9]|[^A-Za-z0-9 \\t\\n\\x0B\\f\\r]"
  def bpeTokenCountSql(e: String): String = s"len(regexp_extract_all($e, '$bpePatSql'))"

  def qualityScoreSql(e: String): String = {
    val words = s"CAST(len(regexp_extract_all($e, '$NWS_SQL+')) AS DOUBLE)"
    val stops = s"CAST(len(regexp_extract_all(lower($e), '\\b(the|a|and|of|to|in|is|it|for|on)\\b')) AS DOUBLE)"
    val punct = s"CAST(len(regexp_extract_all($e, '[^A-Za-z0-9 \\t\\n\\x0B\\f\\r]')) AS DOUBLE)"
    val chars = s"CAST(length(regexp_replace($e, '$WS_SQL', '', 'g')) AS DOUBLE)"
    s"""CASE WHEN $words = 0 THEN 0 ELSE
       |  least($words / 100, 1) * 0.25
       |  + (1 - least(abs($stops / $words - 0.4) / 0.4, 1)) * 0.25
       |  + (1 - least($punct / $chars * 5, 1)) * 0.25
       |  + least($chars / $words / 8, 1) * 0.25 END""".stripMargin.replace("\n", "")
  }

  def gopherWordsSql(e: String): String =
    s"CAST(len(regexp_extract_all($e, '$NWS_SQL+')) AS DOUBLE)"
  def gopherMwlSql(e: String): String =
    s"CAST(length(regexp_replace($e, '$WS_SQL', '', 'g')) AS DOUBLE) / ${gopherWordsSql(e)}"
  def gopherSymbolRatioSql(e: String): String =
    s"CAST(len(regexp_extract_all($e, '#')) + len(regexp_extract_all($e, '\\.\\.\\.')) AS DOUBLE) / ${gopherWordsSql(e)}"
  def gopherAlphaFracSql(e: String): String =
    s"CAST(len(regexp_extract_all($e, '$NWS_SQL*[A-Za-z]$NWS_SQL*')) AS DOUBLE) / ${gopherWordsSql(e)}"
  def gopherStopCountSql(e: String): String =
    s"CAST(${gopherStops.map(s => s"(CASE WHEN regexp_matches(lower($e), '\\b$s\\b') THEN 1 ELSE 0 END)").mkString(" + ")} AS BIGINT)"
  def gopherKeepSql(e: String): String =
    gopherRuleSqls(e).mkString("(", " AND ", ")")
  def md5FingerprintSql(e: String): String =
    s"md5(array_to_string(regexp_extract_all(lower(trim($e)), '$NWS_SQL+'), ' '))"

  def polyFingerprintSql(e: String): String = {
    val toks = s"regexp_extract_all(lower(trim($e)), '$NWS_SQL+')"
    val ids = s"list_transform($toks, t -> CAST(concat('0x', substr(md5(t), 1, 6)) AS BIGINT))"
    s"list_reduce(list_prepend(CAST(0 AS BIGINT), $ids), (acc, x) -> (acc * 131 + x) % 1000000007)"
  }

  def gopherRuleSqls(e: String): Seq[String] = {
    val w = gopherWordsSql(e)
    Seq(
      s"($w > 0 AND $w >= 50 AND $w <= 100000)",
      s"($w > 0 AND ${gopherMwlSql(e)} >= 3 AND ${gopherMwlSql(e)} <= 10)",
      s"($w > 0 AND ${gopherSymbolRatioSql(e)} < 0.1)",
      s"($w > 0 AND ${gopherAlphaFracSql(e)} > 0.8)",
      s"(${gopherStopCountSql(e)} >= 2)")
  }

  val plantedDocsSql: String =
    s"""SELECT doc_id, lower(trim(text)) AS text FROM documents
       | UNION ALL
       | SELECT doc_id + $NEAR_OFF AS doc_id, array_to_string(w[1:len(w)-5], ' ') AS text
       | FROM (SELECT doc_id, regexp_extract_all(lower(trim(text)), '[^ \\t\\n\\x0B\\f\\r]+') AS w FROM documents)
       | WHERE doc_id % 5 = 0 AND len(w) > 10
       | UNION ALL
       | SELECT doc_id + $EXACT_OFF AS doc_id, lower(trim(text)) AS text FROM documents
       | WHERE doc_id % 25 = 0""".stripMargin.replace("\n", "")

  /** DuckDB twin of `Fixtures.qualityCorpus`' text column, the corpus the
    * classifier's recorded weights score.
    */
  val qualityCorpusTextSql: String =
    """CASE WHEN doc_id % 7 = 0
      | THEN concat_ws(' ', coalesce(text, ''), 'click here buy now free offer winner prize claim instant cash bonus')
      | ELSE text END""".stripMargin.replace("\n", "")

  val charsetTextSql: String =
    """CASE doc_id % 11
      | WHEN 0 THEN concat('こんにちは ', substr(text, 1, 40))
      | WHEN 1 THEN concat('カタカナ ', substr(text, 1, 40))
      | WHEN 2 THEN concat('漢字 ', substr(text, 1, 40))
      | WHEN 3 THEN concat(substr(text, 1, 40), ' すごい！')
      | WHEN 4 THEN 'wwww'
      | WHEN 5 THEN concat('한국어 ', substr(text, 1, 40))
      | WHEN 6 THEN concat('русский ', substr(text, 1, 40))
      | WHEN 7 THEN '12345'
      | WHEN 8 THEN ':_konkonmori: :_wave:'
      | WHEN 9 THEN '🎉 🎉'
      | ELSE text END""".stripMargin.replace("\n", "")

  val badgeTextSql: String =
    """CASE doc_id % 6
      | WHEN 0 THEN NULL
      | WHEN 1 THEN 'New member'
      | WHEN 2 THEN concat(CAST(doc_id % 23 AS VARCHAR), ' months')
      | WHEN 3 THEN concat(CAST(doc_id % 5 AS VARCHAR), ' years')
      | WHEN 4 THEN 'Member (1 year)'
      | ELSE 'hello' END""".stripMargin.replace("\n", "")

  val humorTextSql: String =
    """CASE doc_id % 7
      | WHEN 0 THEN concat(substr(text, 1, 30), ' lol')
      | WHEN 1 THEN concat('草 ', substr(text, 1, 30))
      | WHEN 2 THEN 'hahaha that was great'
      | WHEN 3 THEN concat('笑いすぎた', 'ｗｗ')
      | WHEN 4 THEN 'looool'
      | ELSE text END""".stripMargin.replace("\n", "")

  val piiTextSql: String =
    """CASE doc_id % 5
      | WHEN 0 THEN concat(substr(text, 1, 60), ' contact me at user', CAST(doc_id AS VARCHAR), '@example.com')
      | WHEN 1 THEN concat('call 555-', format('{:03d}', doc_id % 1000), '-4567 ', substr(text, 1, 60))
      | WHEN 2 THEN concat(substr(text, 1, 60), ' ssn 123-45-6789')
      | ELSE substr(text, 1, 60) END""".stripMargin.replace("\n", "")

  val htmlTextSql: String =
    """CASE doc_id % 4
      | WHEN 0 THEN concat('<html><body><p>', substr(text, 1, 60), '</p><br/><div class="x">footer</div></body></html>')
      | WHEN 1 THEN concat('<a href="http://example.com?a=1&amp;b=2">', substr(text, 1, 60), '</a> &lt;3')
      | WHEN 2 THEN concat('x &gt; y &amp;&amp; y &lt; z: ', substr(text, 1, 60))
      | ELSE substr(text, 1, 60) END""".stripMargin.replace("\n", "")

  val queryTextSql: String =
    """CASE doc_id % 5
      | WHEN 0 THEN concat('channel:"Pekora Ch." from:2024-01-15 ', substr(text, 1, 40))
      | WHEN 1 THEN concat(substr(text, 1, 40), ' channel:chan_', CAST(doc_id % 7 AS VARCHAR))
      | WHEN 2 THEN concat(substr(text, 1, 40), ' from:2024-02-30')
      | WHEN 3 THEN concat(substr(text, 1, 40), ' to:2024-03-10 till then')
      | ELSE substr(text, 1, 40) END""".stripMargin.replace("\n", "")

  val categorizeDocsSql: String =
    s"SELECT doc_id, ${categorizeSql(s"(${charsetTextSql})")} AS category FROM documents"
  val membershipRankDocsSql: String =
    s"SELECT doc_id, ${membershipRankSql(s"(${badgeTextSql})")} AS rank_months FROM documents"
  val humorDocsSql: String =
    s"SELECT doc_id, ${hasHumorSql(s"(${humorTextSql})")} AS is_humor FROM documents"
  val langIdDocsSql: String =
    s"SELECT doc_id, ${langIdSql(s"(${charsetTextSql})")} AS lang_id FROM documents"

  val qualityDocsSql: String =
    s"""SELECT doc_id,
       | CAST(${wsTokenCountSql("text")} AS BIGINT) AS n_words,
       | ${Oracle.flSql(qualityScoreSql("text"), 4)} AS quality
       | FROM documents""".stripMargin.replace("\n", "")

  val gopherRulesDocsSql: String = {
    val w = gopherWordsSql("text")
    val mwl = gopherMwlSql("text")
    val sym = gopherSymbolRatioSql("text")
    val alpha = gopherAlphaFracSql("text")
    val stops = gopherStopCountSql("text")
    val Seq(rLen, rMwl, rSym, rAlpha, rStop) = gopherRuleSqls("text")
    s"""SELECT doc_id,
       | CAST($w AS BIGINT) AS n_words,
       | CASE WHEN $w = 0 THEN 0 ELSE ${Oracle.flSql(mwl, 6)} END AS mean_word_len,
       | CASE WHEN $w = 0 THEN 0 ELSE ${Oracle.flSql(sym, 6)} END AS symbol_ratio,
       | CASE WHEN $w = 0 THEN 0 ELSE ${Oracle.flSql(alpha, 6)} END AS alpha_frac,
       | $stops AS n_stop,
       | $rLen AS r_len, $rMwl AS r_mwl, $rSym AS r_symbol,
       | $rAlpha AS r_alpha, $rStop AS r_stop,
       | ($rLen AND $rMwl AND $rSym AND $rAlpha AND $rStop) AS keep
       | FROM documents""".stripMargin.replace("\n", "")
  }

  val tokenCountDocsSql: String =
    s"""SELECT doc_id, CAST(${wsTokenCountSql("text")} AS BIGINT) AS ws_tokens,
       | CAST(${bpeTokenCountSql("text")} AS BIGINT) AS bpe_tokens
       | FROM documents""".stripMargin.replace("\n", "")

  val fingerprintDocsSql: String =
    s"""SELECT doc_id, ${md5FingerprintSql("text")} AS fp_md5,
       | ${polyFingerprintSql("text")} AS fp_poly
       | FROM documents""".stripMargin.replace("\n", "")

  val charEntropyDocsSql: String =
    s"""WITH chars AS (
       |  SELECT doc_id, c FROM (
       |   SELECT doc_id, unnest(string_split(text, '')) AS c FROM documents)
       |  WHERE c <> ''),
       | freq AS (SELECT doc_id, c, COUNT(*) AS n FROM chars GROUP BY 1, 2),
       | tot AS (SELECT doc_id, CAST(SUM(n) AS BIGINT) AS total FROM freq GROUP BY 1),
       | h AS (
       |  SELECT f.doc_id, tot.total,
       |   -SUM((CAST(f.n AS DOUBLE) / CAST(tot.total AS DOUBLE))
       |     * ln(CAST(f.n AS DOUBLE) / CAST(tot.total AS DOUBLE))) AS raw_h
       |  FROM freq f JOIN tot ON f.doc_id = tot.doc_id GROUP BY 1, 2)
       | SELECT d.doc_id,
       |  COALESCE(h.total, 0) AS n_chars,
       |  COALESCE(${Oracle.flSql("h.raw_h", 4)}, 0.0) AS entropy
       | FROM documents d LEFT JOIN h ON d.doc_id = h.doc_id""".stripMargin.replace("\n", "")

  val stripHtmlDocsSql: String = {
    val raw = s"(${htmlTextSql})"
    val cleaned =
      s"""trim(regexp_replace(regexp_replace(regexp_replace(regexp_replace(
         |regexp_replace(regexp_replace($raw, '$tagPat', ' ', 'g'),
         | '&amp;', '&', 'g'), '&lt;', '<', 'g'), '&gt;', '>', 'g'),
         | '&quot;', '"', 'g'), '[ \\t\\n\\x0B\\f\\r]+', ' ', 'g'))""".stripMargin.replace("\n", "")
    s"""SELECT doc_id,
       | CAST(len(regexp_extract_all($raw, '$tagPat')) AS BIGINT) AS n_tags,
       | $cleaned AS cleaned
       | FROM documents""".stripMargin.replace("\n", "")
  }

  val piiScrubDocsSql: String = {
    val msg = s"(${piiTextSql})"
    val scrubbed =
      s"""regexp_replace(regexp_replace(regexp_replace($msg,
         | '$ssnPat', '<SSN>', 'g'), '$phonePat', '<PHONE>', 'g'),
         | '$emailPat', '<EMAIL>', 'g')""".stripMargin.replace("\n", "")
    s"""SELECT doc_id,
       | CAST(len(regexp_extract_all($msg, '$emailPat')) AS BIGINT) AS n_emails,
       | CAST(len(regexp_extract_all($msg, '$phonePat')) AS BIGINT) AS n_phones,
       | CAST(len(regexp_extract_all($msg, '$ssnPat')) AS BIGINT) AS n_ssns,
       | $scrubbed AS scrubbed
       | FROM documents""".stripMargin.replace("\n", "")
  }

  val parseQueryDocsSql: String =
    s"""WITH src AS (SELECT doc_id, (${queryTextSql}) AS q FROM documents),
       | ex AS (
       |  SELECT doc_id,
       |   coalesce(nullif(regexp_extract(q, 'channel:"([^"]+)"|channel:([^ \\t\\n\\x0B\\f\\r]+)', 1), ''),
       |            nullif(regexp_extract(q, 'channel:"([^"]+)"|channel:([^ \\t\\n\\x0B\\f\\r]+)', 2), '')) AS channel_raw,
       |   nullif(regexp_extract(q, 'from:(\\d{4}-\\d{2}-\\d{2})', 1), '') AS from_s,
       |   nullif(regexp_extract(q, 'to:(\\d{4}-\\d{2}-\\d{2})', 1), '') AS to_s,
       |   trim(regexp_replace(regexp_replace(regexp_replace(q,
       |    'channel:"([^"]+)"|channel:([^ \\t\\n\\x0B\\f\\r]+)', '', 'g'), 'from:\\d{4}-\\d{2}-\\d{2}', '', 'g'),
       |    'to:\\d{4}-\\d{2}-\\d{2}', '', 'g')) AS clean_raw
       |  FROM src),
       | v AS (
       |  SELECT *, TRY_CAST(from_s AS DATE) AS from_d, TRY_CAST(to_s AS DATE) AS to_d,
       |   CASE WHEN from_s IS NOT NULL AND TRY_CAST(from_s AS DATE) IS NULL
       |     THEN 'invalid from date: ' || from_s
       |    WHEN to_s IS NOT NULL AND TRY_CAST(to_s AS DATE) IS NULL
       |     THEN 'invalid to date: ' || to_s END AS error
       |  FROM ex)
       | SELECT doc_id,
       |  CASE WHEN error IS NULL THEN clean_raw END AS clean_query,
       |  CASE WHEN error IS NULL THEN channel_raw END AS channel_name,
       |  CASE WHEN error IS NULL THEN from_d END AS from_date,
       |  CASE WHEN error IS NULL THEN to_d END AS to_date,
       |  error
       | FROM v""".stripMargin.replace("\n", "")

  /** DuckDB replica of [[tokenizeBpe]] with the trained merge table
    * inlined: per DISTINCT lowercased word, a recursive CTE re-runs the
    * ranked BPE apply — each step finds the lowest-rank adjacent pair
    * (`list_position` against the rank-ordered merge literal) and merges
    * its LEFTMOST occurrence; a word exits the recursion when no pair has
    * a rank. Provably the same fixpoint as
    * [[graft.ml.BpeTokenizer.encodeWord]]'s merge-all loop, because any
    * rule whose symbol was born from merge r has rank > r. Token counts
    * join back to docs on the word.
    */
  def tokenizeBpeSql(merges: Array[String], textSql: String): String = {
    def q(s: String) = "'" + s.replace("'", "''") + "'"
    val mv = merges.map(q).mkString("[", ", ", "]")
    s"""WITH RECURSIVE
       | bpe_m AS (SELECT $mv AS v),
       | bpe_d AS (SELECT doc_id, $textSql AS text FROM documents),
       | bpe_dw AS (SELECT doc_id, unnest(regexp_extract_all(lower(trim(coalesce(text, ''))), '[^ \\t\\n\\x0B\\f\\r]+')) AS w FROM bpe_d),
       | bpe_uw AS (SELECT DISTINCT w FROM bpe_dw),
       | bpe_r AS (
       |  SELECT w, 0 AS it, string_split(w, '') AS syms FROM bpe_uw
       |  UNION ALL
       |  SELECT w, it + 1 AS it,
       |   list_concat(list_concat(syms[1:pj-1], [pa || pb]), syms[pj+2:len(syms)]) AS syms
       |  FROM (
       |   SELECT w, it, syms, pa, pb,
       |    list_min(list_filter(range(1, len(syms)), i -> syms[i] = pa AND syms[i+1] = pb)) AS pj
       |   FROM (
       |    SELECT w, it, syms,
       |     split_part(mv[br], ' ', 1) AS pa, split_part(mv[br], ' ', 2) AS pb
       |    FROM (
       |     SELECT r.w, r.it, r.syms, m.v AS mv,
       |      list_min(list_filter(list_transform(range(1, len(r.syms)),
       |       i -> list_position(m.v, r.syms[i] || ' ' || r.syms[i+1])), x -> x IS NOT NULL AND x > 0)) AS br
       |     FROM bpe_r r, bpe_m m)
       |    WHERE br IS NOT NULL))),
       | bpe_wc AS (
       |  SELECT w, len(syms) AS ntok FROM (
       |   SELECT w, syms, row_number() OVER (PARTITION BY w ORDER BY it DESC) AS rn FROM bpe_r)
       |  WHERE rn = 1),
       | bpe_agg AS (
       |  SELECT d.doc_id, SUM(c.ntok) AS bpe FROM bpe_dw d JOIN bpe_wc c ON d.w = c.w GROUP BY 1)
       | SELECT d0.doc_id,
       |  CAST(coalesce(a.bpe, 0) AS BIGINT) AS bpe_tokens,
       |  CAST(${wsTokenCountSql("d0.text")} AS BIGINT) AS ws_words,
       |  CASE WHEN coalesce(a.bpe, 0) > 0
       |   THEN ${Oracle.flSql("CAST(length(d0.text) AS DOUBLE) / CAST(a.bpe AS DOUBLE)", 4)}
       |   ELSE CAST(0 AS DOUBLE) END AS chars_per_token
       | FROM bpe_d d0 LEFT JOIN bpe_agg a ON d0.doc_id = a.doc_id""".stripMargin.replace("\n", "")
  }

  /** DuckDB replica of [[qualityClassifier]]'s scoring with the trained
    * (weights, bias) inlined as literals: same whitespace tokens, the same
    * 60-bit md5 bucket (here an explicit hex fold — DuckDB has no `conv`),
    * the same sequential weight fold / mean / sigmoid, floored at the same
    * scale. `textSql` is the raw-table twin of the scored corpus' text.
    */
  def qualityClassifierSql(model: (Array[Double], Double), textSql: String): String = {
    val (w, b) = model
    val buckets = w.length
    // conv(substring(md5(t),1,15),16,10): fold the 15 hex chars to a BIGINT
    val hash = "list_reduce(list_prepend(CAST(0 AS BIGINT), " +
      "list_transform(range(1, 16), i -> CAST(strpos('0123456789abcdef', substr(md5(t), CAST(i AS INT), 1)) - 1 AS BIGINT))), " +
      "(a, h) -> a * 16 + h)"
    val sumW = s"list_reduce(list_prepend(CAST(0 AS DOUBLE), " +
      s"list_transform(s.toks, t -> w.v[CAST($hash % $buckets AS INT) + 1])), (a, x) -> a + x)"
    val z = s"${dl(b)} + (CASE WHEN len(s.toks) <= 0 THEN CAST(0 AS DOUBLE) ELSE $sumW / len(s.toks) END)"
    val score = Oracle.flSql(s"1.0 / (1.0 + exp(-($z)))", 4)
    s"""WITH qc_w AS (SELECT ${dlist(w.toSeq)} AS v),
       | qc_src AS (SELECT doc_id, regexp_extract_all(lower(trim(coalesce($textSql, ''))), '[^ \\t\\n\\x0B\\f\\r]+') AS toks FROM documents),
       | qc_sc AS (SELECT s.doc_id, $score AS score FROM qc_src s, qc_w w)
       | SELECT doc_id, score, (score >= 0.5) AS is_quality FROM qc_sc""".stripMargin.replace("\n", "")
  }
}
