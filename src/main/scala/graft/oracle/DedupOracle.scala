package graft.oracle

import Oracle.flSql

/** DuckDB twins of the dedup suite over the planted-duplicates corpus. */
object DedupOracle {

  private val ddSql = TextOracle.plantedDocsSql

  val dedupExactSql: String =
    s"""WITH dd AS ($ddSql)
       | SELECT sha256(text) AS content_hash, MIN(doc_id) AS keep_id,
       |  COUNT(*) AS n_dups
       | FROM dd GROUP BY 1""".stripMargin.replace("\n", "")

  private def shinglesSql(k: Int): String =
    s"""SELECT DISTINCT doc_id,
       |  CAST(concat('0x', substr(md5(sh), 1, 15)) AS BIGINT) AS xsh FROM (
       |  SELECT doc_id,
       |    unnest(list_transform(range(0, greatest(len(w) - $k + 1, 0)),
       |      i -> array_to_string(w[i+1:i+$k], ' '))) AS sh
       |  FROM (SELECT doc_id, regexp_extract_all(text, '[^ \\t\\n\\x0B\\f\\r]+') AS w FROM dd))
       | WHERE length(sh) > 0""".stripMargin.replace("\n", "")

  def dedupMinhashSql(k: Int = 3, minJaccard: Double = 0.7): String =
    s"""WITH dd AS ($ddSql),
       | sh AS (${shinglesSql(k)}),
       | perms AS (
       |  SELECT doc_id, xsh % 2147483647 AS x,
       |    unnest(range(32)) AS i
       |  FROM sh),
       | hashed AS (
       |  SELECT doc_id, i,
       |    ((CAST(concat('0x', substr(md5(concat('a', CAST(i AS VARCHAR))), 1, 7)) AS BIGINT) + 1) * x
       |     + CAST(concat('0x', substr(md5(concat('b', CAST(i AS VARCHAR))), 1, 7)) AS BIGINT)) % 2147483647 AS h
       |  FROM perms),
       | minsig AS (SELECT doc_id, i, MIN(h) AS mh FROM hashed GROUP BY 1, 2),
       | bandsig AS (
       |  SELECT doc_id, CAST(i // 4 AS INT) AS band,
       |    string_agg(CAST(mh AS VARCHAR), '-' ORDER BY i) AS sig
       |  FROM minsig GROUP BY 1, 2),
       | cand AS (
       |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |  FROM bandsig a JOIN bandsig b
       |    ON a.band = b.band AND a.sig = b.sig AND a.doc_id < b.doc_id),
       | sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY 1),
       | inter AS (
       |  SELECT c.doc_a, c.doc_b, COUNT(*) AS inter
       |  FROM cand c
       |  JOIN sh sa ON sa.doc_id = c.doc_a
       |  JOIN sh sb ON sb.doc_id = c.doc_b AND sb.xsh = sa.xsh
       |  GROUP BY 1, 2)
       | SELECT i.doc_a, i.doc_b,
       |  ${flSql("CAST(i.inter AS DOUBLE) / CAST(na.n_sh + nb.n_sh - i.inter AS DOUBLE)", 6)} AS jaccard
       | FROM inter i
       | JOIN sizes na ON na.doc_id = i.doc_a
       | JOIN sizes nb ON nb.doc_id = i.doc_b
       | WHERE ${flSql("CAST(i.inter AS DOUBLE) / CAST(na.n_sh + nb.n_sh - i.inter AS DOUBLE)", 6)} >= $minJaccard""".stripMargin.replace("\n", "")

  def semDedupGeoSql(minCos: Double = 0.3, kCells: Int = 8, iters: Int = 3): String =
    s"""WITH RECURSIVE ${VectorsOracle.kmeansCtes(kCells, iters)},
       | asg AS (${VectorsOracle.kmeansAssignSql(iters)}),
       | geo AS (
       |  SELECT em.vec_id, a.cluster AS label, em.embedding
       |  FROM embeddings em JOIN asg a ON a.vec_id = em.vec_id),
       | pairs AS (${embedNearDupSql(minCos, src = "geo")}),
       | e2 AS (SELECT vec_a AS a, vec_b AS b FROM pairs
       |  UNION SELECT vec_b AS a, vec_a AS b FROM pairs),
       | reach AS (
       |  SELECT vec_id, vec_id AS r FROM embeddings
       |  UNION
       |  SELECT reach.vec_id, e2.b AS r FROM reach JOIN e2 ON e2.a = reach.r)
       | SELECT vec_id, MIN(r) AS cluster_id, (MIN(r) = vec_id) AS is_survivor
       | FROM reach GROUP BY 1""".stripMargin.replace("\n", "")

  def semDedupSql(minCos: Double = 0.3): String =
    s"""WITH RECURSIVE pairs AS (${embedNearDupSql(minCos)}),
       | e2 AS (SELECT vec_a AS a, vec_b AS b FROM pairs
       |  UNION SELECT vec_b AS a, vec_a AS b FROM pairs),
       | reach AS (
       |  SELECT vec_id, vec_id AS r FROM embeddings
       |  UNION
       |  SELECT reach.vec_id, e2.b AS r FROM reach JOIN e2 ON e2.a = reach.r)
       | SELECT vec_id, MIN(r) AS cluster_id, (MIN(r) = vec_id) AS is_survivor
       | FROM reach GROUP BY 1""".stripMargin.replace("\n", "")

  def dedupClustersSql(k: Int = 3, minJaccard: Double = 0.7): String =
    s"""WITH RECURSIVE mh AS (${dedupMinhashSql(k, minJaccard)}),
       | dd2 AS ($ddSql),
       | e2 AS (SELECT doc_a AS a, doc_b AS b FROM mh
       |   UNION SELECT doc_b, doc_a FROM mh),
       | reach AS (
       |  SELECT doc_id, doc_id AS r FROM dd2
       |  UNION
       |  SELECT reach.doc_id, e2.b AS r FROM reach JOIN e2 ON e2.a = reach.r)
       | SELECT doc_id, MIN(r) AS cluster_id,
       |  (MIN(r) = doc_id) AS is_survivor
       | FROM reach GROUP BY 1""".stripMargin.replace("\n", "")

  def substringOverlapSql(k: Int = 13): String =
    s"""WITH dd AS ($ddSql),
       | sh AS (${shinglesSql(k)})
       | SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS shared_runs
       | FROM sh a JOIN sh b ON a.xsh = b.xsh AND a.doc_id < b.doc_id
       | GROUP BY 1, 2""".stripMargin.replace("\n", "")

  def dedupIncrementalSql(cutoff: Long = 400L): String =
    s"""WITH dd AS ($ddSql),
       | hashed AS (SELECT doc_id, sha256(text) AS content_hash FROM dd),
       | stored AS (SELECT DISTINCT content_hash FROM hashed WHERE doc_id < $cutoff)
       | SELECT h.content_hash, MIN(h.doc_id) AS keep_id,
       |  COUNT(*) AS n_dups_in_delta
       | FROM hashed h
       | WHERE h.doc_id >= $cutoff
       |  AND h.content_hash NOT IN (SELECT content_hash FROM stored)
       | GROUP BY 1""".stripMargin.replace("\n", "")

  def dedupSimhashSql(maxHamming: Int = 3): String =
    s"""WITH dd AS ($ddSql),
       | words AS (
       |  SELECT doc_id, word, COUNT(*) AS c,
       |    CAST(concat('0x', substr(md5(word), 1, 15)) AS BIGINT) AS x
       |  FROM (SELECT doc_id, unnest(regexp_extract_all(text, '[^ \\t\\n\\x0B\\f\\r]+')) AS word FROM dd)
       |  GROUP BY 1, 2),
       | bits AS (
       |  SELECT doc_id, j, SUM((((x >> j) & 1) * 2 - 1) * c) AS s
       |  FROM words, (SELECT unnest(range(60)) AS j)
       |  GROUP BY 1, 2),
       | sim AS (
       |  SELECT doc_id, SUM(CASE WHEN s > 0 THEN (CAST(1 AS BIGINT) << j) ELSE 0 END) AS simhash
       |  FROM bits GROUP BY 1),
       | chunks AS (
       |  SELECT doc_id, simhash, ci, (simhash >> (ci * 15)) & 32767 AS chunk
       |  FROM sim, (SELECT unnest(range(4)) AS ci))
       | SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
       |  CAST(bit_count(xor(a.simhash, b.simhash)) AS INT) AS hamming
       | FROM chunks a JOIN chunks b
       |  ON a.ci = b.ci AND a.chunk = b.chunk AND a.doc_id < b.doc_id
       | WHERE bit_count(xor(a.simhash, b.simhash)) <= $maxHamming""".stripMargin.replace("\n", "")

  /** DuckDB twin of the CAPPED path (`maxDf = Some(cap)`): the df-filter
    * CTE restricts CANDIDATE GENERATION to shingles with df <= cap, then
    * the Jaccard is recomputed from the FULL per-pair intersection —
    * exactly the Spark plan's two-phase shape, so the deploy path (the one
    * that survives stopword-shingle skew at 100 TB) is gated hash-exact,
    * not just spec-gated. On this corpus every planted duplicate cluster
    * is far below the cap, so the output matches the exhaustive path and
    * the two bench entries are directly comparable.
    */
  def ngramJaccardCappedSql(k: Int = 3, minJaccard: Double = 0.3, cap: Long = 64L): String =
    s"""WITH dd AS ($ddSql),
       | sh AS (${shinglesSql(k)}),
       | sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY 1),
       | rare AS (SELECT xsh FROM sh GROUP BY xsh HAVING COUNT(*) <= $cap),
       | cand AS (
       |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |  FROM sh a JOIN rare r ON a.xsh = r.xsh
       |  JOIN sh b ON b.xsh = a.xsh AND a.doc_id < b.doc_id),
       | inter AS (
       |  SELECT c.doc_a, c.doc_b, COUNT(*) AS inter
       |  FROM cand c
       |  JOIN sh a ON a.doc_id = c.doc_a
       |  JOIN sh b ON b.doc_id = c.doc_b AND b.xsh = a.xsh
       |  GROUP BY 1, 2)
       | SELECT i.doc_a, i.doc_b,
       |  ${flSql("CAST(i.inter AS DOUBLE) / CAST(na.n_sh + nb.n_sh - i.inter AS DOUBLE)", 6)} AS jaccard
       | FROM inter i
       | JOIN sizes na ON na.doc_id = i.doc_a
       | JOIN sizes nb ON nb.doc_id = i.doc_b
       | WHERE ${flSql("CAST(i.inter AS DOUBLE) / CAST(na.n_sh + nb.n_sh - i.inter AS DOUBLE)", 6)} >= $minJaccard""".stripMargin.replace("\n", "")

  def ngramJaccardSql(k: Int = 3, minJaccard: Double = 0.3): String =
    s"""WITH dd AS ($ddSql),
       | sh AS (${shinglesSql(k)}),
       | sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY 1),
       | inter AS (
       |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS inter
       |  FROM sh a JOIN sh b ON a.xsh = b.xsh AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2)
       | SELECT i.doc_a, i.doc_b,
       |  ${flSql("CAST(i.inter AS DOUBLE) / CAST(na.n_sh + nb.n_sh - i.inter AS DOUBLE)", 6)} AS jaccard
       | FROM inter i
       | JOIN sizes na ON na.doc_id = i.doc_a
       | JOIN sizes nb ON nb.doc_id = i.doc_b
       | WHERE ${flSql("CAST(i.inter AS DOUBLE) / CAST(na.n_sh + nb.n_sh - i.inter AS DOUBLE)", 6)} >= $minJaccard""".stripMargin.replace("\n", "")

  def dedupLinesSql(width: Int = 10): String =
    s"""WITH dd AS ($ddSql),
       | toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM dd),
       | segs AS (
       |  SELECT doc_id, i AS pos,
       |   array_to_string(list_slice(t, CAST(i * $width + 1 AS BIGINT), CAST(i * $width + $width AS BIGINT)), ' ') AS segment
       |  FROM toks, UNNEST(generate_series(0, CAST(ceil(len(t) / ${width}.0) AS BIGINT) - 1)) AS u(i)),
       | cnt AS (SELECT md5(segment) AS h, COUNT(*) AS c FROM segs GROUP BY 1),
       | flagged AS (SELECT s.doc_id, s.pos, s.segment, (cnt.c > 1) AS dup
       |  FROM segs s JOIN cnt ON md5(s.segment) = cnt.h)
       | SELECT doc_id,
       |  coalesce(string_agg(segment, ' ' ORDER BY pos) FILTER (WHERE NOT dup), '') AS clean_text,
       |  COUNT(*) AS n_segments,
       |  CAST(COUNT(*) FILTER (WHERE dup) AS BIGINT) AS n_dropped
       | FROM flagged GROUP BY 1""".stripMargin.replace("\n", "")

  def embedNearDupSql(minCos: Double = 0.3, src: String = "embeddings"): String = {
    val (rel, valid) = VectorsOracle.validSrcSql(src)
    s"${valid.map(c => s"WITH $c ").mkString}SELECT vec_a, vec_b, cosine" +
      s" FROM (${VectorsOracle.blockPairsSql(rel, "<")}) WHERE cosine >= $minCos"
  }
}
