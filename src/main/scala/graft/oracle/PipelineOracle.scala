package graft.oracle

import Oracle.flSql

/** DuckDB twins of the corpus-pipeline operators. */
object PipelineOracle {
  import TextOracle._

  private[oracle] def md5IdSql(e: String): String =
    s"CAST(concat('0x', substr(md5($e), 1, 15)) AS BIGINT)"

  def decontaminateSql(k: Int = 5): String =
    s"""WITH wdocs AS (
       |  SELECT doc_id, regexp_extract_all(lower(trim(text)), '[^ \\t\\n\\x0B\\f\\r]+') AS w FROM documents),
       | evtext AS (
       |  SELECT doc_id, array_to_string(w[3:22], ' ') AS text FROM wdocs WHERE doc_id % 17 = 0),
       | evgrams AS (
       |  SELECT DISTINCT ${md5IdSql("sh")} AS xsh FROM (
       |   SELECT unnest(list_transform(range(0, greatest(len(w) - $k + 1, 0)),
       |     i -> array_to_string(w[i+1:i+$k], ' '))) AS sh
       |   FROM (SELECT regexp_extract_all(lower(trim(text)), '[^ \\t\\n\\x0B\\f\\r]+') AS w FROM evtext))
       |  WHERE length(sh) > 0),
       | trsh AS (
       |  SELECT DISTINCT doc_id, ${md5IdSql("sh")} AS xsh FROM (
       |   SELECT doc_id, unnest(list_transform(range(0, greatest(len(w) - $k + 1, 0)),
       |     i -> array_to_string(w[i+1:i+$k], ' '))) AS sh
       |   FROM wdocs)
       |  WHERE length(sh) > 0),
       | hits AS (
       |  SELECT t.doc_id, COUNT(*) AS n_hits
       |  FROM trsh t JOIN evgrams e ON t.xsh = e.xsh GROUP BY 1)
       | SELECT d.doc_id, COALESCE(h.n_hits, 0) AS n_hits,
       |  COALESCE(h.n_hits, 0) > 0 AS is_contaminated
       | FROM documents d LEFT JOIN hits h ON d.doc_id = h.doc_id""".stripMargin.replace("\n", "")

  def repetitionScoreSql(n: Int = 3): String =
    s"""WITH aug AS (
       |  SELECT doc_id,
       |   CASE WHEN doc_id % 9 = 0
       |    THEN concat(lower(trim(text)), ' ', rep, ' ', rep)
       |    ELSE lower(trim(text)) END AS msg
       |  FROM (SELECT doc_id, text,
       |    array_to_string(regexp_extract_all(lower(trim(text)), '[^ \\t\\n\\x0B\\f\\r]+')[1:6], ' ') AS rep
       |   FROM documents)),
       | grams AS (
       |  SELECT doc_id,
       |   list_transform(range(0, greatest(len(w) - $n + 1, 0)),
       |     i -> array_to_string(w[i+1:i+$n], ' ')) AS gr
       |  FROM (SELECT doc_id, regexp_extract_all(msg, '[^ \\t\\n\\x0B\\f\\r]+') AS w FROM aug))
       | SELECT doc_id, CAST(len(gr) AS BIGINT) AS n_ngrams,
       |  CAST(len(list_distinct(gr)) AS BIGINT) AS n_distinct,
       |  CASE WHEN len(gr) > 0
       |   THEN ${flSql("1.0 - CAST(len(list_distinct(gr)) AS DOUBLE) / CAST(len(gr) AS DOUBLE)", 4)}
       |   ELSE 0.0 END AS dup_frac
       | FROM grams""".stripMargin.replace("\n", "")

  def sampleHashSql(pct: Int = 20): String =
    s"""SELECT doc_id, ${md5IdSql("CAST(doc_id AS VARCHAR)")} % 100 AS bucket
       | FROM documents
       | WHERE ${md5IdSql("CAST(doc_id AS VARCHAR)")} % 100 < $pct""".stripMargin.replace("\n", "")

  def sampleStratifiedSql(quota: Int = 30): String =
    s"""SELECT lang, doc_id, pos FROM (
       |  SELECT lang, doc_id,
       |   ROW_NUMBER() OVER (PARTITION BY lang
       |     ORDER BY ${md5IdSql("CAST(doc_id AS VARCHAR)")} ASC, doc_id ASC) AS pos
       |  FROM documents)
       | WHERE pos <= $quota""".stripMargin.replace("\n", "")

  def sampleThresholdSql(quota: Long = 30L): String = {
    val hashMax = (1L << 60).toDouble
    s"""WITH counts AS (SELECT lang, COUNT(*) AS n_lang FROM documents GROUP BY 1)
       | SELECT d.lang, d.doc_id
       | FROM documents d JOIN counts c ON d.lang = c.lang
       | WHERE ${md5IdSql("CAST(d.doc_id AS VARCHAR)")} <
       |  least(CAST($quota AS DOUBLE) / CAST(c.n_lang AS DOUBLE), 1.0) * $hashMax""".stripMargin.replace("\n", "")
  }

  def dsirSql(targetLang: String = "en", buckets: Int = 512, pct: Int = 20): String =
    s"""WITH toks AS (
       |  SELECT doc_id, lang, list_filter(regexp_extract_all(lower(trim(text)), '[^ \\t\\n\\x0B\\f\\r]+'), t -> length(t) > 0) AS w
       |  FROM documents),
       | grams AS (
       |  SELECT doc_id, lang, unnest(w) AS g FROM toks WHERE len(w) > 0
       |  UNION ALL
       |  SELECT doc_id, lang, w[i] || ' ' || w[i + 1] AS g
       |  FROM toks, UNNEST(generate_series(1, len(w) - 1)) AS u(i)
       |  WHERE len(w) >= 2),
       | dbk AS (
       |  SELECT doc_id, lang, ${md5IdSql("g")} % $buckets AS b, COUNT(*) AS n
       |  FROM grams GROUP BY 1, 2, 3),
       | rawm AS (SELECT b, CAST(SUM(n) AS BIGINT) AS n_raw FROM dbk GROUP BY 1),
       | tgtm AS (SELECT b, CAST(SUM(n) AS BIGINT) AS n_tgt FROM dbk
       |          WHERE lang = '$targetLang' GROUP BY 1),
       | sc AS (SELECT (SELECT CAST(SUM(n_raw) AS BIGINT) FROM rawm) AS t_raw,
       |   (SELECT CAST(COALESCE(SUM(n_tgt), 0) AS BIGINT) FROM tgtm) AS t_tgt),
       | scored AS (
       |  SELECT d.doc_id, CAST(SUM(d.n) AS BIGINT) AS n_feats,
       |   SUM(CAST(d.n AS DOUBLE) *
       |     (ln((CAST(COALESCE(t.n_tgt, 0) AS DOUBLE) + 1) / (CAST(sc.t_tgt AS DOUBLE) + $buckets.0))
       |      - ln((CAST(r.n_raw AS DOUBLE) + 1) / (CAST(sc.t_raw AS DOUBLE) + $buckets.0))))
       |    / CAST(SUM(d.n) AS DOUBLE) AS r
       |  FROM dbk d JOIN rawm r ON d.b = r.b LEFT JOIN tgtm t ON d.b = t.b CROSS JOIN sc
       |  GROUP BY 1)
       | SELECT doc_id, n_feats, ${flSql("r", 4)} AS log_ratio,
       |  ${md5IdSql("CAST(doc_id AS VARCHAR)")} % 1000000 <
       |   CAST(floor(least(exp(${flSql("r", 4)}), 1.0) * ${pct.toDouble / 100d} * 1000000) AS BIGINT) AS kept
       | FROM scored""".stripMargin.replace("\n", "")

  def shuffleShardsSql(shards: Int = 16): String =
    s"""SELECT doc_id, h % $shards AS shard,
       |  ROW_NUMBER() OVER (PARTITION BY h % $shards ORDER BY h ASC, doc_id ASC) AS pos
       | FROM (SELECT doc_id, ${md5IdSql("CAST(doc_id AS VARCHAR)")} AS h FROM documents)""".stripMargin.replace("\n", "")

  def mixSampleSql(targetTotal: Long = 200L,
                   upWeighted: Set[String] = (0 to 9).map(i => s"src$i").toSet,
                   upWeight: Double = 3.0): String = {
    val hashMax = (1L << 60).toDouble
    val inList = upWeighted.toSeq.sorted.map(s => s"'$s'").mkString(", ")
    s"""WITH counts AS (
       |  SELECT source, COUNT(*) AS n_src,
       |   CASE WHEN source IN ($inList) THEN $upWeight ELSE 1.0 END AS w
       |  FROM documents GROUP BY 1),
       | norm AS (SELECT *, SUM(w) OVER () AS w_sum FROM counts)
       | SELECT d.source, d.doc_id
       | FROM documents d JOIN norm c ON d.source = c.source
       | WHERE ${md5IdSql("CAST(d.doc_id AS VARCHAR)")} <
       |  least(c.w / c.w_sum * CAST($targetTotal AS DOUBLE) / CAST(c.n_src AS DOUBLE), 1.0) * $hashMax""".stripMargin.replace("\n", "")
  }

  val datasetCardSql: String = {
    val keep = gopherKeepSql("text")
    s"""SELECT source, lang, COUNT(*) AS n_docs,
       | CAST(SUM(len(regexp_extract_all(text, '[^ \\t\\n\\x0B\\f\\r]+'))) AS BIGINT) AS n_tokens,
       | ${flSql(s"AVG(${qualityScoreSql("text")})", 6)} AS mean_quality,
       | ${flSql(s"CAST(SUM(CASE WHEN $keep THEN 1 ELSE 0 END) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)", 6)} AS gopher_keep_rate
       | FROM documents GROUP BY 1, 2""".stripMargin.replace("\n", "")
  }

  def perplexityBucketsSql(): String =
    s"""WITH words AS (
       |  SELECT doc_id, lang, unnest(regexp_extract_all(lower(trim(text)), '[^ \\t\\n\\x0B\\f\\r]+')) AS term
       |  FROM documents),
       | dt AS (SELECT doc_id, lang, term, COUNT(*) AS n FROM words WHERE length(term) > 0 GROUP BY 1, 2, 3),
       | vocab AS (SELECT term, CAST(SUM(n) AS BIGINT) AS freq FROM dt GROUP BY 1),
       | sc AS (SELECT CAST(SUM(freq) AS BIGINT) AS total, COUNT(*) AS v_size FROM vocab),
       | nll AS (
       |  SELECT dt.doc_id, dt.lang,
       |   ${flSql("SUM(CAST(dt.n AS DOUBLE) * -ln((CAST(v.freq AS DOUBLE) + 1) / (CAST(sc.total AS DOUBLE) + CAST(sc.v_size AS DOUBLE)))) / CAST(SUM(dt.n) AS DOUBLE)", 4)} AS mean_nll
       |  FROM dt JOIN vocab v ON dt.term = v.term CROSS JOIN sc
       |  GROUP BY 1, 2),
       | thr AS (
       |  SELECT lang,
       |   round(quantile_cont(mean_nll, CAST(1 AS DOUBLE)/3), 6) AS t1,
       |   round(quantile_cont(mean_nll, CAST(2 AS DOUBLE)/3), 6) AS t2
       |  FROM nll GROUP BY 1)
       | SELECT n.doc_id, n.lang, n.mean_nll,
       |  CASE WHEN n.mean_nll <= t.t1 THEN 'head'
       |       WHEN n.mean_nll <= t.t2 THEN 'middle'
       |       ELSE 'tail' END AS bucket
       | FROM nll n JOIN thr t ON n.lang IS NOT DISTINCT FROM t.lang""".stripMargin.replace("\n", "")

  val unigramNllSql: String =
    s"""WITH words AS (
       |  SELECT doc_id, unnest(regexp_extract_all(lower(trim(text)), '[^ \\t\\n\\x0B\\f\\r]+')) AS term
       |  FROM documents),
       | dt AS (SELECT doc_id, term, COUNT(*) AS n FROM words WHERE length(term) > 0 GROUP BY 1, 2),
       | vocab AS (SELECT term, CAST(SUM(n) AS BIGINT) AS freq FROM dt GROUP BY 1),
       | sc AS (SELECT CAST(SUM(freq) AS BIGINT) AS total, COUNT(*) AS v_size FROM vocab)
       | SELECT dt.doc_id, CAST(SUM(dt.n) AS BIGINT) AS n_tokens,
       |  ${flSql("SUM(CAST(dt.n AS DOUBLE) * -ln((CAST(v.freq AS DOUBLE) + 1) / (CAST(sc.total AS DOUBLE) + CAST(sc.v_size AS DOUBLE)))) / CAST(SUM(dt.n) AS DOUBLE)", 4)} AS mean_nll
       | FROM dt JOIN vocab v ON dt.term = v.term CROSS JOIN sc
       | GROUP BY 1""".stripMargin.replace("\n", "")

  val bigramNllSql: String =
    s"""WITH toks AS (
       |  SELECT doc_id, list_filter(regexp_extract_all(lower(trim(text)), '[^ \\t\\n\\x0B\\f\\r]+'), t -> length(t) > 0) AS w
       |  FROM documents),
       | bg AS (
       |  SELECT doc_id, w[i] AS prev, w[i] || ' ' || w[i + 1] AS bigram
       |  FROM toks, UNNEST(generate_series(1, len(w) - 1)) AS u(i)
       |  WHERE len(w) >= 2),
       | db AS (SELECT doc_id, prev, bigram, COUNT(*) AS n FROM bg GROUP BY 1, 2, 3),
       | bvocab AS (SELECT bigram, CAST(SUM(n) AS BIGINT) AS bfreq FROM db GROUP BY 1),
       | hist AS (SELECT prev, CAST(SUM(n) AS BIGINT) AS pfreq FROM db GROUP BY 1),
       | words AS (SELECT unnest(w) AS term FROM toks),
       | sc AS (SELECT COUNT(DISTINCT term) AS v_size FROM words)
       | SELECT db.doc_id, CAST(SUM(db.n) AS BIGINT) AS n_bigrams,
       |  ${flSql("SUM(CAST(db.n AS DOUBLE) * -ln((CAST(bv.bfreq AS DOUBLE) + 1) / (CAST(h.pfreq AS DOUBLE) + CAST(sc.v_size AS DOUBLE)))) / CAST(SUM(db.n) AS DOUBLE)", 4)} AS mean_nll
       | FROM db JOIN bvocab bv ON db.bigram = bv.bigram
       | JOIN hist h ON db.prev = h.prev CROSS JOIN sc
       | GROUP BY 1""".stripMargin.replace("\n", "")

  def topTermsSql(k: Int = 10): String =
    s"""WITH terms AS (
       |  SELECT lang, unnest(regexp_extract_all(lower(trim(text)), '[^ \\t\\n\\x0B\\f\\r]+')) AS term
       |  FROM documents),
       | tf AS (SELECT lang, term, COUNT(*) AS freq FROM terms WHERE length(term) > 0 GROUP BY 1, 2)
       | SELECT lang, pos, term, freq FROM (
       |  SELECT lang, term, freq,
       |   ROW_NUMBER() OVER (PARTITION BY lang ORDER BY freq DESC, term ASC) AS pos
       |  FROM tf)
       | WHERE pos <= $k""".stripMargin.replace("\n", "")

  def tokenPercentilesSql: String = {
    s"""WITH t AS (
       |  SELECT lang, CAST(${TextOracle.wsTokenCountSql("text")} AS BIGINT) AS n
       |  FROM documents)
       | SELECT lang, COUNT(*) AS n_docs,
       |  ${flSql("quantile_cont(n, 0.5)", 4)} AS p50,
       |  ${flSql("quantile_cont(n, 0.9)", 4)} AS p90,
       |  ${flSql("quantile_cont(n, 0.99)", 4)} AS p99
       | FROM t GROUP BY 1""".stripMargin.replace("\n", "")
  }

  def bpePairsSql(k: Int = 20): String =
    s"""WITH words AS (
       |  SELECT unnest(list_filter(regexp_extract_all(lower(trim(text)), '[^ \\t\\n\\x0B\\f\\r]+'),
       |   w -> length(w) >= 2)) AS w
       |  FROM documents),
       | pairs AS (
       |  SELECT substr(w, CAST(i AS INT), 2) AS pair
       |  FROM words, UNNEST(generate_series(1, length(w) - 1)) AS u(i))
       | SELECT pair, COUNT(*) AS freq FROM pairs GROUP BY 1
       | ORDER BY freq DESC, pair ASC LIMIT $k""".stripMargin.replace("\n", "")

  def corpusBuildSql(minQuality: Double = 0.5, capacity: Long = 512L, nShards: Int = 32): String = {
    s"""WITH scored AS (
       |  SELECT doc_id, lower(trim(text)) AS clean,
       |   ${flSql(TextOracle.qualityScoreSql("text"), 4)} AS quality,
       |   CAST(${TextOracle.bpeTokenCountSql("text")} AS BIGINT) AS n_tokens
       |  FROM documents),
       | kept AS (SELECT * FROM scored WHERE quality >= $minQuality),
       | sur AS (
       |  SELECT * FROM (
       |   SELECT *, ROW_NUMBER() OVER (PARTITION BY sha256(clean) ORDER BY doc_id) AS rn
       |   FROM kept)
       |  WHERE rn = 1),
       | c AS (
       |  SELECT doc_id, doc_id % $nShards AS shard, n_tokens, quality,
       |   CAST(COALESCE(SUM(n_tokens) OVER (PARTITION BY doc_id % $nShards ORDER BY doc_id
       |     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS cum_before
       |  FROM sur)
       | SELECT doc_id, shard, cum_before // $capacity AS seq_id,
       |  cum_before % $capacity AS offset, n_tokens, quality
       | FROM c""".stripMargin.replace("\n", "")
  }

  def packSequencesSql(capacity: Long = 512L, nShards: Int = 32): String =
    s"""WITH t AS (
       |  SELECT doc_id, doc_id % $nShards AS shard,
       |   CAST(${TextOracle.bpeTokenCountSql("text")} AS BIGINT) AS n_tokens
       |  FROM documents),
       | c AS (
       |  SELECT *, CAST(COALESCE(SUM(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS cum_before
       |  FROM t)
       | SELECT doc_id, shard, cum_before // $capacity AS seq_id,
       |  cum_before % $capacity AS offset, n_tokens
       | FROM c""".stripMargin.replace("\n", "")
}
