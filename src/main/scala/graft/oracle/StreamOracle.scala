package graft.oracle

/** DuckDB twins of the streaming operators' batch forms. */
object StreamOracle {

  def sessionizeExactSql(windowSeconds: Long = 21600L): String =
    s"""SELECT CAST(to_timestamp(CAST(floor(epoch(ts) / $windowSeconds) AS BIGINT) * $windowSeconds) AS TIMESTAMP) AS window_start,
       | event_type AS channel, COUNT(*) AS n_events,
       | COUNT(DISTINCT user_id) AS n_users
       | FROM events GROUP BY 1, 2""".stripMargin.replace("\n", "")

  def gapSessionsSql(gapSeconds: Long = 1800L): String =
    s"""WITH lagd AS (
       |  SELECT user_id, ts, LAG(ts) OVER (PARTITION BY user_id ORDER BY ts) AS prev
       |  FROM events),
       | flag AS (
       |  SELECT user_id, ts,
       |   CASE WHEN prev IS NULL OR epoch(ts) - epoch(prev) >= $gapSeconds THEN 1 ELSE 0 END AS new_s
       |  FROM lagd),
       | sid AS (
       |  SELECT user_id, ts,
       |   SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts ROWS UNBOUNDED PRECEDING) AS sid
       |  FROM flag)
       | SELECT user_id, CAST(MIN(ts) AS TIMESTAMP) AS session_start,
       |  COUNT(*) AS n_events
       | FROM sid GROUP BY user_id, sid""".stripMargin.replace("\n", "")

  /** DuckDB oracle for the batch twin: the unrolled k-means CTE chain
    * (training + final assignment), the registry's deterministic
    * vec_id-derived timestamps, and Spark's epoch-aligned tumbling-window
    * arithmetic.
    */
  def clusterCountsSql(k: Int = 8, iters: Int = 3,
                       bucketSeconds: Long = 900L): String =
    s"""WITH ${VectorsOracle.kmeansCtes(k, iters)},
       | asg AS (${VectorsOracle.kmeansAssignSql(iters)})
       | SELECT CAST(to_timestamp(CAST(floor((${graft.Fixtures.TS_EPOCH_BASE} + a.vec_id * 60) / $bucketSeconds) AS BIGINT) * $bucketSeconds) AS TIMESTAMP) AS window_start,
       |  a.cluster, COUNT(*) AS n
       | FROM asg a
       | GROUP BY 1, 2""".stripMargin.replace("\n", "")

  val survivorsSql: String =
    s"""WITH dd AS (${TextOracle.plantedDocsSql})
       | SELECT MIN(doc_id) AS doc_id, sha256(text) AS content_hash
       | FROM dd GROUP BY 2""".stripMargin.replace("\n", "")

  /** DuckDB oracle: the reference's LAG formulation of the same semantics. */
  def transitionsSql: String =
    s"""WITH r AS (
       | SELECT user_id, ${ChatOracle.channelSql} AS channel, ts, event_id,
       |  ${ChatOracle.membershipRankSql} AS rank FROM events),
       | lagged AS (
       | SELECT *, LAG(rank) OVER (PARTITION BY user_id, channel
       |   ORDER BY ts, event_id) AS prev_rank FROM r)
       | SELECT user_id, channel, ts, prev_rank, rank AS new_rank,
       |  CASE WHEN prev_rank = -1 AND rank >= 0 THEN 'gained'
       |       WHEN prev_rank >= 0 AND rank = -1 THEN 'lost'
       |       ELSE 'changed' END AS kind
       | FROM lagged WHERE prev_rank IS NOT NULL AND prev_rank <> rank""".stripMargin.replace("\n", "")

  /** DuckDB oracle: identical windowing arithmetic (Spark's tumbling
    * windows align to the epoch origin, exactly floor(epoch/sec)*sec).
    */
  def burstsSql(bucketSeconds: Long = 900L, minBurst: Long = 5L): String =
    s"""SELECT CAST(to_timestamp(CAST(floor(epoch(ts) / $bucketSeconds) AS BIGINT) * $bucketSeconds) AS TIMESTAMP) AS spike_start,
       | ${ChatOracle.channelSql} AS channel, COUNT(*) AS velocity
       | FROM events WHERE NOT ${ChatOracle.isGiftSql}
       | GROUP BY 1, 2 HAVING COUNT(*) > $minBurst""".stripMargin.replace("\n", "")
}

/** DuckDB twins of the multimodal operators. */
object MultimodalOracle {

  /** DuckDB twin of [[mediaFeatures]]: the stub decode is deterministic
    * byte statistics over `unhex(md5(text))`, so the oracle recomputes the
    * same bytes from the hex string (a 2-char hex fold per byte) and
    * replays the FNV-1a fold in HUGEINT mod-2^64 arithmetic (DuckDB BIGINT
    * errors on overflow where the JVM wraps; only the low byte of the
    * accumulator participates in the XOR, so `a - a%256 + xor(a%256, b)`
    * is the exact 64-bit XOR here).
    */
  val mediaFeaturesSql: String = {
    val hexb = (i: String) =>
      s"CAST(strpos('0123456789abcdef', substr(hx, CAST(2*($i)-1 AS INT), 1)) * 16" +
        s" + strpos('0123456789abcdef', substr(hx, CAST(2*($i) AS INT), 1)) - 17 AS BIGINT)"
    s"""WITH mm_src AS (
       |  SELECT doc_id, md5(text) AS hx,
       |   CAST(doc_id % 640 + 64 AS INTEGER) AS width,
       |   CAST(doc_id % 480 + 48 AS INTEGER) AS height,
       |   (['png','jpeg','webp'])[CAST(doc_id % 3 + 1 AS INTEGER)] AS format
       |  FROM documents WHERE text IS NOT NULL),
       | mm_b AS (
       |  SELECT *, list_transform(range(1, 17), i -> ${hexb("i")}) AS bs FROM mm_src),
       | mm_f AS (
       |  SELECT doc_id, width, height, format, CAST(len(bs) AS INTEGER) AS n_bytes,
       |   list_reduce(list_prepend(CAST(0 AS BIGINT), bs), (a, x) -> a + x) AS bsum,
       |   list_reduce(list_prepend(CAST(1469598103934665603 AS HUGEINT),
       |     list_transform(bs, x -> CAST(x AS HUGEINT))),
       |    (a, x) -> ((a - a % 256 + CAST(xor(CAST(a % 256 AS BIGINT), CAST(x AS BIGINT)) AS HUGEINT)) * 1099511628211) % 18446744073709551616) AS u
       |  FROM mm_b)
       | SELECT doc_id, width, height, format, n_bytes,
       |  CASE WHEN n_bytes = 0 THEN CAST(0 AS DOUBLE) ELSE CAST(bsum AS DOUBLE) / n_bytes END AS mean_byte,
       |  CAST(CASE WHEN u >= 9223372036854775808 THEN u - 18446744073709551616 ELSE u END AS BIGINT) AS checksum
       | FROM mm_f""".stripMargin.replace("\n", "")
  }

  /** DuckDB twin of the GATE's [[frameSample]] entry (frame hex-encoded —
    * see the registry note): each frame is cut from the md5 HEX string
    * (2 hex chars per byte), uppercased to match Spark's `hex()`.
    * Spark's `length(blob)/frameBytes` is DOUBLE division then an int
    * cast (truncation); the twin floors explicitly before casting.
    */
  def frameSampleSql(frameBytes: Int = 4, stride: Int = 2): String =
    s"""WITH fs_src AS (
       |  SELECT doc_id,
       |   (['png','jpeg','webp'])[CAST(doc_id % 3 + 1 AS INTEGER)] AS format,
       |   md5(text) AS hx
       |  FROM documents WHERE text IS NOT NULL),
       | fs_i AS (
       |  SELECT doc_id, format, hx,
       |   unnest(generate_series(0, CAST(floor(octet_length(unhex(hx)) / CAST($frameBytes AS DOUBLE)) AS INT) - 1, $stride)) AS fi
       |  FROM fs_src WHERE octet_length(unhex(hx)) >= $frameBytes)
       | SELECT doc_id, format, CAST(fi AS INTEGER) AS frame_idx,
       |  upper(substr(hx, CAST(fi * ${2 * frameBytes} + 1 AS INT), ${2 * frameBytes})) AS frame
       | FROM fs_i""".stripMargin.replace("\n", "")

  /** DuckDB twin of [[imageResize]]: replays the NN source-index floor
    * math and the [[pixelRgb]] closed form per output pixel — equality
    * proves the Spark side's real codec round-trip + resample is lossless
    * and index-exact (the codec itself has no SQL twin; the FORMULA does).
    */
  def imageResizeSql(outW: Int = 5, outH: Int = 3,
                     srcW: Int = 8, srcH: Int = 8): String = {
    val sx = s"(((i % $outW) * $srcW) // $outW)"
    val sy = s"(((i // $outW) * $srcH) // $outH)"
    s"""SELECT doc_id,
       | CAST($outW AS INTEGER) AS width, CAST($outH AS INTEGER) AS height,
       | array_to_string(list_transform(range(0, ${outW * outH}), i ->
       |  printf('%02x%02x%02x',
       |   (doc_id * 31 + $sx * 7 + $sy * 13) % 256,
       |   (doc_id * 17 + $sx * 3 + $sy * 5) % 256,
       |   (doc_id * 29 + $sx * 11 + $sy * 19) % 256)), '') AS px_hex
       | FROM documents""".stripMargin.replace("\n", "")
  }
}
