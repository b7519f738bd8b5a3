package graft.oracle

import Oracle.flSql

/** DuckDB twins of the chat-analytics family: the event semantics, the
  * chat statistics, makeup, streaming hours, highlights, forecast and
  * similarity operators, and the chat-log source rollup.
  */
object ChatOracle {
  import graft.sources.ChatLogSources._

  val channelSql = "event_type"
  val daySql = "CAST(date_trunc('day', ts) AS DATE)"
  val weekSql = "CAST(date_trunc('week', ts) AS DATE)"

  val categorySql =
    """CASE WHEN value < 10 THEN 'emoji' WHEN value < 25 THEN 'jp'
      | WHEN value < 50 THEN 'es_en_id' WHEN value < 100 THEN 'kr'
      | ELSE 'ru' END""".stripMargin.replace("\n", "")

  val membershipRankSql =
    "CAST((user_id + CAST(EXTRACT(day FROM ts) AS BIGINT)) % 8 - 1 AS INT)"
  val isGiftSql = "(event_id % 97 = 0)"
  val isHumorSql = "(value < 10)"

  /** DuckDB oracle twin of [[userData]] as a CTE body (FROM events). */
  val userDataSql: String = {
    val cats = Seq("jp", "kr", "ru", "emoji", "es_en_id")
    val catSql = cats
      .map(c => s"COUNT(CASE WHEN NOT $isGiftSql AND ($categorySql) = '$c' THEN 1 END) AS ${c}_count")
      .mkString(", ")
    s"""SELECT user_id, $channelSql AS channel, $daySql AS day, $catSql,
       | COUNT(CASE WHEN NOT $isGiftSql THEN 1 END) AS total_message_count,
       | MAX($membershipRankSql) AS membership_rank,
       | MAX(ts) AS last_ts,
       | (COUNT(CASE WHEN NOT $isGiftSql THEN 1 END) = 0) AS is_gift
       | FROM events GROUP BY 1, 2, 3""".stripMargin.replace("\n", "")
  }

  val userWeeklyActivitySql: String =
    s"""SELECT user_id, $channelSql AS channel, $weekSql AS week,
       | COUNT(*) AS messages FROM events WHERE NOT $isGiftSql
       | GROUP BY 1, 2, 3""".stripMargin.replace("\n", "")

  val membershipSummarySql: String =
    s"""WITH ud AS ($userDataSql),
       | wk AS (SELECT *, CAST(date_trunc('week', day) AS DATE) AS week FROM ud),
       | latest AS (
       |  SELECT channel, week, membership_rank, user_id,
       |    ROW_NUMBER() OVER (PARTITION BY user_id, channel, week ORDER BY
       |      CASE WHEN membership_rank >= 0 THEN 0
       |           WHEN membership_rank = -2 THEN 1 ELSE 2 END ASC,
       |      last_ts DESC, day DESC) AS rn
       |  FROM wk),
       | counts AS (
       |  SELECT channel, week, membership_rank,
       |    COUNT(user_id) AS membership_count
       |  FROM latest WHERE rn = 1 GROUP BY 1, 2, 3)
       | SELECT channel, week, membership_rank, membership_count,
       |  ${flSql("CAST(membership_count AS DOUBLE) * 100 / CAST(SUM(membership_count) OVER (PARTITION BY channel, week) AS DOUBLE)", 4)} AS percentage_total
       | FROM counts""".stripMargin.replace("\n", "")

  def leaderboardSql(k: Int = 10): String =
    s"""WITH act AS ($userWeeklyActivitySql)
       | SELECT channel, week, position, user_id, messages FROM (
       |  SELECT *, ROW_NUMBER() OVER (PARTITION BY channel, week
       |    ORDER BY messages DESC, user_id ASC) AS position FROM act)
       | WHERE position <= $k""".stripMargin.replace("\n", "")

  val engagementSql: String =
    s"""WITH act AS ($userWeeklyActivitySql)
       | SELECT channel, week, COUNT(user_id) AS total_users,
       |  CAST(SUM(messages) AS BIGINT) AS total_messages,
       |  ${flSql("CAST(SUM(messages) AS DOUBLE) / CAST(COUNT(user_id) AS DOUBLE)", 4)} AS avg_messages_per_user
       | FROM act GROUP BY 1, 2""".stripMargin.replace("\n", "")

  val userPercentileSql: String =
    s"""WITH act AS ($userWeeklyActivitySql)
       | SELECT user_id, channel, week, messages,
       |  ${flSql("CUME_DIST() OVER (PARTITION BY channel, week ORDER BY messages ASC) * 100", 4)} AS percentile
       | FROM act""".stripMargin.replace("\n", "")

  val commonUsersMatrixSql: String =
    s"""WITH act AS ($userWeeklyActivitySql),
       | ucw AS (SELECT DISTINCT user_id, channel, week FROM act),
       | pairs AS (
       |  SELECT a.week, a.channel AS channel_a, b.channel AS channel_b,
       |    COUNT(*) AS common_users
       |  FROM ucw a JOIN ucw b ON a.user_id = b.user_id AND a.week = b.week
       |  GROUP BY 1, 2, 3),
       | sizes AS (SELECT week, channel, COUNT(*) AS total_users FROM ucw GROUP BY 1, 2)
       | SELECT p.week, p.channel_a, p.channel_b, p.common_users,
       |  ${flSql("CAST(p.common_users AS DOUBLE) * 100 / CAST(s.total_users AS DOUBLE)", 4)} AS pct_a_to_b
       | FROM pairs p JOIN sizes s ON s.week = p.week AND s.channel = p.channel_a""".stripMargin.replace("\n", "")

  def commonUsersPairSql(chA: String, wa: String, chB: String, wb: String): String =
    s"""WITH act AS ($userWeeklyActivitySql),
       | sa AS (SELECT DISTINCT user_id FROM act WHERE channel = '$chA' AND week = DATE '$wa'),
       | sb AS (SELECT DISTINCT user_id FROM act WHERE channel = '$chB' AND week = DATE '$wb'),
       | c AS (SELECT COUNT(*) AS num_common_users FROM sa JOIN sb USING (user_id))
       | SELECT c.num_common_users,
       |  ${flSql("CAST(c.num_common_users AS DOUBLE) * 100 / NULLIF(CAST((SELECT COUNT(*) FROM sa) AS DOUBLE), 0)", 4)} AS pct_a_to_b,
       |  ${flSql("CAST(c.num_common_users AS DOUBLE) * 100 / NULLIF(CAST((SELECT COUNT(*) FROM sb) AS DOUBLE), 0)", 4)} AS pct_b_to_a
       | FROM c""".stripMargin.replace("\n", "")

  val commonMembersMatrixSql: String =
    s"""WITH ud AS ($userDataSql),
       | mem AS (
       |  SELECT user_id, channel, CAST(date_trunc('week', day) AS DATE) AS week
       |  FROM ud GROUP BY 1, 2, 3 HAVING MAX(membership_rank) >= 0),
       | pairs AS (
       |  SELECT a.week, a.channel AS channel_a, b.channel AS channel_b,
       |    COUNT(*) AS common_members
       |  FROM mem a JOIN mem b ON a.user_id = b.user_id AND a.week = b.week
       |  GROUP BY 1, 2, 3),
       | sizes AS (SELECT week, channel, COUNT(*) AS total_members FROM mem GROUP BY 1, 2)
       | SELECT p.week, p.channel_a, p.channel_b, p.common_members,
       |  ${flSql("CAST(p.common_members AS DOUBLE) * 100 / CAST(s.total_members AS DOUBLE)", 4)} AS pct_a_to_b
       | FROM pairs p JOIN sizes s ON s.week = p.week AND s.channel = p.channel_a""".stripMargin.replace("\n", "")

  val membershipChangesSql: String =
    s"""WITH ud AS ($userDataSql),
       | t AS (
       |  SELECT channel, CAST(date_trunc('week', day) AS DATE) AS week,
       |    membership_rank,
       |    LAG(membership_rank) OVER (PARTITION BY user_id, channel ORDER BY day ASC) AS prev_rank
       |  FROM ud)
       | SELECT channel, week,
       |  COUNT(CASE WHEN prev_rank = -1 AND membership_rank <> -1 THEN 1 END) AS gains_count,
       |  COUNT(CASE WHEN prev_rank <> -1 AND membership_rank = -1 THEN 1 END) AS losses_count,
       |  COUNT(CASE WHEN prev_rank = -1 AND membership_rank <> -1 THEN 1 END)
       |   - COUNT(CASE WHEN prev_rank <> -1 AND membership_rank = -1 THEN 1 END) AS differential
       | FROM t WHERE prev_rank IS NOT NULL GROUP BY 1, 2""".stripMargin.replace("\n", "")

  def userChangesSql(threshold: Int = 5): String =
    s"""WITH act AS ($userWeeklyActivitySql),
       | q AS (SELECT user_id, channel, week FROM act WHERE messages >= $threshold),
       | prev AS (SELECT user_id, channel, CAST(week + INTERVAL 7 DAY AS DATE) AS week FROM q),
       | gained AS (
       |  SELECT channel, week, COUNT(*) AS users_gained FROM q
       |  WHERE NOT EXISTS (SELECT 1 FROM prev p WHERE p.user_id = q.user_id
       |    AND p.channel = q.channel AND p.week = q.week)
       |  GROUP BY 1, 2),
       | lost AS (
       |  SELECT channel, week, COUNT(*) AS users_lost FROM prev
       |  WHERE NOT EXISTS (SELECT 1 FROM q WHERE q.user_id = prev.user_id
       |    AND q.channel = prev.channel AND q.week = prev.week)
       |  GROUP BY 1, 2)
       | SELECT COALESCE(g.channel, l.channel) AS channel,
       |  COALESCE(g.week, l.week) AS week,
       |  COALESCE(g.users_gained, 0) AS users_gained,
       |  COALESCE(l.users_lost, 0) AS users_lost,
       |  COALESCE(g.users_gained, 0) - COALESCE(l.users_lost, 0) AS net_change
       | FROM gained g FULL OUTER JOIN lost l
       |  ON g.channel = l.channel AND g.week = l.week""".stripMargin.replace("\n", "")

  val exclusiveUsersSql: String =
    s"""WITH act AS ($userWeeklyActivitySql),
       | ucw AS (SELECT DISTINCT user_id, channel, week FROM act),
       | span AS (SELECT user_id, week, COUNT(*) AS n_channels FROM ucw GROUP BY 1, 2)
       | SELECT u.channel, u.week, COUNT(*) AS total_users,
       |  COUNT(CASE WHEN s.n_channels = 1 THEN 1 END) AS exclusive_users,
       |  ${flSql("CAST(COUNT(CASE WHEN s.n_channels = 1 THEN 1 END) AS DOUBLE) * 100 / CAST(COUNT(*) AS DOUBLE)", 4)} AS exclusive_percent
       | FROM ucw u JOIN span s ON s.user_id = u.user_id AND s.week = u.week
       | GROUP BY 1, 2""".stripMargin.replace("\n", "")

  val heavyLangUsersSql: String =
    s"""WITH ud AS ($userDataSql),
       | share AS (
       |  SELECT user_id, channel, CAST(date_trunc('week', day) AS DATE) AS week,
       |    SUM(jp_count) AS jp, SUM(total_message_count - emoji_count) AS ne
       |  FROM ud WHERE total_message_count > 0 GROUP BY 1, 2, 3)
       | SELECT channel, week, COUNT(*) AS total_users,
       |  COUNT(CASE WHEN ne > 0 AND jp * 2 > ne THEN 1 END) AS jp_users,
       |  ${flSql("CAST(COUNT(CASE WHEN ne > 0 AND jp * 2 > ne THEN 1 END) AS DOUBLE) * 100 / CAST(COUNT(*) AS DOUBLE)", 4)} AS jp_user_percent
       | FROM share GROUP BY 1, 2""".stripMargin.replace("\n", "")

  def attritionSql(topK: Int = 1000, baselineWeeks: Int = 3): String =
    s"""WITH act AS ($userWeeklyActivitySql),
       | wk AS (SELECT week, ROW_NUMBER() OVER (ORDER BY week ASC) AS week_idx
       |   FROM (SELECT DISTINCT week FROM act)),
       | ai AS (SELECT a.*, wk.week_idx FROM act a JOIN wk USING (week)),
       | top AS (SELECT user_id FROM ai WHERE week_idx <= $baselineWeeks
       |   GROUP BY user_id ORDER BY SUM(messages) DESC, user_id ASC LIMIT $topK),
       | later AS (SELECT DISTINCT user_id, week FROM ai WHERE week_idx > $baselineWeeks)
       | SELECT week, COUNT(*) AS active_users,
       |  ${flSql(s"CAST(COUNT(*) AS DOUBLE) * 100 / $topK", 4)} AS percent_active
       | FROM later JOIN top USING (user_id) GROUP BY week""".stripMargin.replace("\n", "")

  val retentionCohortSql: String =
    s"""WITH act AS ($userWeeklyActivitySql),
       | wc AS (
       |  SELECT user_id, channel, week,
       |   MIN(week) OVER (PARTITION BY user_id, channel) AS cohort_week
       |  FROM act),
       | cells AS (
       |  SELECT channel, cohort_week,
       |   CAST(date_diff('day', cohort_week, week) / 7 AS INT) AS offset_weeks,
       |   COUNT(*) AS active_users
       |  FROM wc GROUP BY 1, 2, 3)
       | SELECT channel, cohort_week, offset_weeks, active_users,
       |  MAX(CASE WHEN offset_weeks = 0 THEN active_users END)
       |   OVER (PARTITION BY channel, cohort_week) AS cohort_size,
       |  ${flSql(
          "CAST(active_users AS DOUBLE) / CAST(MAX(CASE WHEN offset_weeks = 0 THEN active_users END) OVER (PARTITION BY channel, cohort_week) AS DOUBLE)",
          6)} AS retention
       | FROM cells""".stripMargin.replace("\n", "")

  val siteStatsSql: String =
    s"""SELECT COUNT(DISTINCT ($channelSql, $daySql)) AS num_chat_logs,
       | COUNT(*) AS num_messages, MIN(ts) AS min_ts, MAX(ts) AS max_ts
       | FROM events WHERE NOT $isGiftSql""".stripMargin.replace("\n", "")

  val languageStatsSql: String =
    s"""WITH ud AS (${userDataSql})
       | SELECT channel, CAST(date_trunc('week', day) AS DATE) AS week,
       |  CAST(SUM(jp_count) AS BIGINT) AS jp_count, CAST(SUM(kr_count) AS BIGINT) AS kr_count,
       |  CAST(SUM(ru_count) AS BIGINT) AS ru_count, CAST(SUM(emoji_count) AS BIGINT) AS emoji_count,
       |  CAST(SUM(es_en_id_count) AS BIGINT) AS es_en_id_count,
       |  CAST(SUM(total_message_count) AS BIGINT) AS total_messages
       | FROM ud WHERE total_message_count > 0 GROUP BY 1, 2""".stripMargin.replace("\n", "")

  val userLanguageShareSql: String =
    s"""WITH ud AS (${userDataSql})
       | SELECT user_id, channel, CAST(date_trunc('week', day) AS DATE) AS week,
       |  CAST(SUM(jp_count) AS BIGINT) AS total_jp_messages,
       |  CAST(SUM(total_message_count - emoji_count) AS BIGINT) AS total_non_emoji_messages
       | FROM ud WHERE total_message_count > 0 GROUP BY 1, 2, 3""".stripMargin.replace("\n", "")

  val membershipTotalSql: String =
    s"""SELECT channel, week, CAST(SUM(membership_count) AS BIGINT) AS total_members
       | FROM (${membershipSummarySql})
       | WHERE membership_rank <> -1 GROUP BY 1, 2""".stripMargin.replace("\n", "")

  private val valueCentiSql = "CAST(round(value * 100) AS BIGINT)"

  val chatMakeupSql: String = {
    val cats = Seq("jp", "kr", "ru", "emoji", "es_en_id")
    val catAgg = cats.map(c =>
      s"COUNT(CASE WHEN NOT $isGiftSql AND ($categorySql) = '$c' THEN 1 END) AS ${c}_n").mkString(", ")
    val rates = cats.map(c =>
      s"${flSql(s"CAST(${c}_n AS DOUBLE) / (CAST(centi_s AS DOUBLE) / 100 / 60)", 4)} AS ${c}_rate_per_minute").mkString(", ")
    s"""WITH agg AS (
       | SELECT $channelSql AS channel, $weekSql AS week,
       |  SUM($valueCentiSql) AS centi_s, $catAgg
       | FROM events GROUP BY 1, 2)
       | SELECT channel, week, $rates FROM agg""".stripMargin.replace("\n", "")
  }

  def messageTypePercentsSql(chan: String, cat: String): String =
    s"""WITH agg AS (
       | SELECT $weekSql AS week, SUM($valueCentiSql) AS centi_s,
       |  COUNT(CASE WHEN NOT $isGiftSql AND ($categorySql) = '$cat' THEN 1 END) AS cat_n,
       |  COUNT(CASE WHEN NOT $isGiftSql AND ($categorySql) <> 'emoji' THEN 1 END) AS non_emoji_n
       | FROM events WHERE event_type = '$chan' GROUP BY 1)
       | SELECT week,
       |  ${flSql("CAST(cat_n AS DOUBLE) * 100 / CAST(non_emoji_n AS DOUBLE)", 4)} AS percent,
       |  ${flSql("CAST(cat_n AS DOUBLE) / (CAST(centi_s AS DOUBLE) / 100 / 60)", 4)} AS message_rate
       | FROM agg""".stripMargin.replace("\n", "")

  private val videosSql =
    """SELECT c.c_name AS channel, c.c_mktsegment AS channel_group,
      | CAST(date_trunc('month', o.o_orderdate) AS DATE) AS month,
      | CAST(o.o_totalprice AS DECIMAL(18,2)) AS duration_s
      | FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey""".stripMargin.replace("\n", "")

  val totalSql: String =
    s"""WITH v AS ($videosSql)
       | SELECT channel, channel_group, month,
       |  ${flSql("CAST(SUM(duration_s) AS DOUBLE) / 3600", 4)} AS hours
       | FROM v GROUP BY 1, 2, 3""".stripMargin.replace("\n", "")

  val avgSql: String =
    s"""WITH v AS ($videosSql)
       | SELECT channel, channel_group, month,
       |  ${flSql("CAST(SUM(duration_s) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) / 3600", 4)} AS hours
       | FROM v GROUP BY 1, 2, 3""".stripMargin.replace("\n", "")

  val maxSql: String =
    s"""WITH v AS ($videosSql)
       | SELECT channel, channel_group, month,
       |  ${flSql("CAST(MAX(duration_s) AS DOUBLE) / 3600", 4)} AS hours
       | FROM v GROUP BY 1, 2, 3""".stripMargin.replace("\n", "")

  def monthlyHoursSql(custkey: Long): String =
    s"""WITH v AS ($videosSql)
       | SELECT month, ${flSql("CAST(SUM(duration_s) AS DOUBLE) / 3600", 4)} AS total_streaming_hours
       | FROM v JOIN customer c2 ON v.channel = c2.c_name AND c2.c_custkey = $custkey
       | GROUP BY 1""".stripMargin.replace("\n", "")

  val channelNamesSql: String =
    "SELECT c_name AS channel_name FROM customer ORDER BY 1"
  val dateRangesSql: String =
    "SELECT MIN(o_orderdate) AS min_date, MAX(o_orderdate) AS max_date FROM orders"

  val hoursDiffSql: String =
    s"""WITH v AS ($videosSql),
       | m AS (SELECT channel, month, SUM(duration_s) AS dur FROM v GROUP BY 1, 2)
       | SELECT cur.channel, cur.month,
       |  ${flSql("CAST(cur.dur AS DOUBLE) / 3600", 4)} AS hours,
       |  ${flSql("CAST(COALESCE(cur.dur - prev.dur, cur.dur) AS DOUBLE) / 3600", 4)} AS change
       | FROM m cur LEFT JOIN m prev ON prev.channel = cur.channel
       |  AND CAST(prev.month + INTERVAL 1 MONTH AS DATE) = cur.month""".stripMargin.replace("\n", "")

  private val epochSSql = "CAST(floor(epoch(ts)) AS BIGINT)"

  def funniestMomentSql(bucketS: Long = 1800L): String =
    s"""WITH counts AS (
       | SELECT $channelSql AS channel, $daySql AS day,
       |  CAST(floor($epochSSql / $bucketS) AS BIGINT) AS bucket, COUNT(*) AS humor_n
       | FROM events WHERE $isHumorSql AND NOT $isGiftSql GROUP BY 1, 2, 3)
       | SELECT channel, day, bucket * $bucketS - 10 AS funniest_ts, humor_n FROM (
       |  SELECT *, ROW_NUMBER() OVER (PARTITION BY channel, day
       |    ORDER BY humor_n DESC, bucket ASC) AS rn FROM counts)
       | WHERE rn = 1""".stripMargin.replace("\n", "")

  def highlightVelocitySql(bucketS: Long = 900L, topN: Int = 3, minBurst: Long = 5L): String =
    s"""WITH counts AS (
       | SELECT $channelSql AS channel, $daySql AS day,
       |  CAST(floor($epochSSql / $bucketS) AS BIGINT) AS bucket, COUNT(*) AS velocity
       | FROM events WHERE NOT $isGiftSql GROUP BY 1, 2, 3)
       | SELECT channel, day, bucket * $bucketS AS spike_start, velocity FROM (
       |  SELECT *, ROW_NUMBER() OVER (PARTITION BY channel, day
       |    ORDER BY velocity DESC, bucket ASC) AS rn FROM counts)
       | WHERE rn <= $topN AND velocity > $minBurst""".stripMargin.replace("\n", "")

  def videoHighlightsSql(group: String = "AUTOMOBILE", month: String = "1996-03-01"): String =
    s"""SELECT l.l_orderkey AS video_id, c.c_name AS channel,
       | o.o_orderpriority AS title, l.l_returnflag AS topic_tag,
       | l.l_linenumber AS highlight_idx,
       | CAST(date_diff('day', o.o_orderdate, l.l_shipdate) AS INT) AS relative_days
       | FROM lineitem l
       | JOIN orders o ON l.l_orderkey = o.o_orderkey
       |  AND CAST(date_trunc('month', o.o_orderdate) AS DATE) = DATE '$month'
       | JOIN customer c ON o.o_custkey = c.c_custkey
       |  AND c.c_mktsegment = '$group'""".stripMargin.replace("\n", "")

  def funniestOffsetsSql(group: String = "AUTOMOBILE", month: String = "1996-03-01"): String =
    s"""WITH chans AS (
       |  SELECT c_custkey, c_name AS channel FROM customer WHERE c_mktsegment = '$group'),
       | vids AS (
       |  SELECT o_orderkey, channel, o_orderpriority AS title,
       |   CAST(floor(epoch(CAST(o_orderdate AS TIMESTAMP))) AS BIGINT) AS end_epoch,
       |   CAST(floor(o_totalprice) AS BIGINT) AS dur
       |  FROM orders JOIN chans ON o_custkey = c_custkey),
       | last_chat AS (
       |  SELECT l_orderkey, CAST(floor(epoch(CAST(MAX(l_shipdate) AS TIMESTAMP))) AS BIGINT) AS last_chat_epoch
       |  FROM lineitem
       |  WHERE l_shipdate >= DATE '$month' AND l_shipdate < DATE '$month' + INTERVAL 1 MONTH
       |  GROUP BY 1)
       | SELECT v.o_orderkey AS video_id, v.channel, v.title,
       |  v.end_epoch - v.dur + v.dur // 2 - lc.last_chat_epoch + v.dur AS relative_ts
       | FROM vids v JOIN last_chat lc ON v.o_orderkey = lc.l_orderkey""".stripMargin.replace("\n", "")

  def logCoverageSql(bucketS: Long = 900L): String =
    s"""SELECT $channelSql AS channel, $daySql AS day,
       | COUNT(DISTINCT CAST(floor($epochSSql / $bucketS) AS BIGINT)) AS buckets,
       | COUNT(*) AS n_messages,
       | ${flSql(s"CAST(COUNT(DISTINCT CAST(floor($epochSSql / $bucketS) AS BIGINT)) AS DOUBLE) * 100 / ${86400L / bucketS}", 4)} AS coverage_pct
       | FROM events WHERE NOT $isGiftSql GROUP BY 1, 2""".stripMargin.replace("\n", "")

  def forecastHoursSql(horizons: Int = 3): String =
    s"""WITH monthly AS (
       |  SELECT c.c_name AS channel,
       |    CAST(date_trunc('month', o.o_orderdate) AS DATE) AS month,
       |    CAST(SUM(CAST(o.o_totalprice AS DECIMAL(18,2))) AS DOUBLE) / 3600 AS x
       |  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
       |  GROUP BY 1, 2),
       | idxed AS (
       |  SELECT channel, month, x,
       |    CAST(ROW_NUMBER() OVER (PARTITION BY channel ORDER BY month) AS DOUBLE) AS i,
       |    CAST(COUNT(*) OVER (PARTITION BY channel) AS DOUBLE) AS n
       |  FROM monthly),
       | wtd AS (
       |  SELECT *, CASE WHEN n >= 3 THEN exp(-1 + (i - 1) / (n - 1)) ELSE 1 END AS w
       |  FROM idxed),
       | stats AS (
       |  SELECT channel, MAX(n) AS n,
       |    SUM(w * x) / SUM(w) AS wm,
       |    SUM(x) AS sx, SUM(x * x) AS sx2,
       |    arg_min(x, month) AS x_first, arg_max(x, month) AS x_last
       |  FROM wtd GROUP BY 1),
       | prep AS (
       |  SELECT channel, wm,
       |    CASE WHEN n > 1 THEN sqrt(greatest(0, (sx2 - sx * sx / n) / n)) ELSE 0.1 END AS sigma,
       |    CASE WHEN n >= 2 THEN (x_last - x_first) / n ELSE 0 END AS trend
       |  FROM stats),
       | hz AS (SELECT unnest(range(1, ${horizons + 1})) AS h),
       | ex AS (
       |  SELECT p.channel, CAST(hz.h AS INT) AS horizon,
       |    p.wm + p.trend * CAST(hz.h AS DOUBLE) AS f,
       |    p.sigma * (1 + 0.2 * (CAST(hz.h AS DOUBLE) - 1)) AS widen
       |  FROM prep p CROSS JOIN hz)
       | SELECT channel, horizon,
       |  ${flSql("f", 4)} AS forecast,
       |  ${flSql("greatest(0, f - 1.645 * widen)", 4)} AS lower,
       |  ${flSql("greatest(0, f - 0.674 * widen)", 4)} AS p25,
       |  ${flSql("f + 0.674 * widen", 4)} AS p75,
       |  ${flSql("f + 1.645 * widen", 4)} AS upper
       | FROM ex""".stripMargin.replace("\n", "")

  val channelSimilaritySql: String =
    s"""WITH act AS ($userWeeklyActivitySql),
       | dots AS (
       |  SELECT a.week, a.channel AS channel_a, b.channel AS channel_b,
       |    SUM(a.messages * b.messages) AS dot
       |  FROM act a JOIN act b ON a.user_id = b.user_id AND a.week = b.week
       |    AND a.channel < b.channel
       |  GROUP BY 1, 2, 3),
       | norms AS (SELECT week, channel, SUM(messages * messages) AS n2 FROM act GROUP BY 1, 2)
       | SELECT d.week, d.channel_a, d.channel_b,
       |  ${flSql("CAST(d.dot AS DOUBLE) / (sqrt(CAST(na.n2 AS DOUBLE)) * sqrt(CAST(nb.n2 AS DOUBLE)))", 6)} AS similarity
       | FROM dots d
       | JOIN norms na ON na.week = d.week AND na.channel = d.channel_a
       | JOIN norms nb ON nb.week = d.week AND nb.channel = d.channel_b""".stripMargin.replace("\n", "")

  def recommendSql(userId: Long = 3L, exclThreshold: Long = 3L, k: Int = 10): String =
    s"""WITH act AS ($userWeeklyActivitySql),
       | w AS (SELECT user_id, channel, SUM(messages) AS weight FROM act GROUP BY 1, 2),
       | dots AS (
       |  SELECT a.channel AS channel_a, b.channel AS channel_b, SUM(a.weight * b.weight) AS dot
       |  FROM w a JOIN w b ON a.user_id = b.user_id GROUP BY 1, 2),
       | norms AS (SELECT channel, SUM(weight * weight) AS n2 FROM w GROUP BY 1),
       | sims AS (
       |  SELECT d.channel_a, d.channel_b,
       |    CAST(d.dot AS DOUBLE) / (sqrt(CAST(na.n2 AS DOUBLE)) * sqrt(CAST(nb.n2 AS DOUBLE))) AS sim
       |  FROM dots d
       |  JOIN norms na ON na.channel = d.channel_a
       |  JOIN norms nb ON nb.channel = d.channel_b),
       | mine AS (SELECT channel AS uc, weight FROM w WHERE user_id = $userId AND weight > 0),
       | raw AS (
       |  SELECT s.channel_a, SUM(s.sim) AS raw_score
       |  FROM sims s JOIN mine m ON s.channel_b = m.uc
       |  WHERE s.channel_a NOT IN (SELECT uc FROM mine WHERE weight > $exclThreshold)
       |  GROUP BY 1)
       | SELECT channel_a AS channel_name,
       |  ${flSql("ln(1 + raw_score / CAST((SELECT COUNT(*) FROM mine) AS DOUBLE) * 100) / ln(101) * 100", 4)} AS score
       | FROM raw ORDER BY raw_score DESC, channel_a ASC LIMIT $k""".stripMargin.replace("\n", "")

  val contentSimilaritySql: String =
    s"""WITH terms AS (
       |  SELECT source, unnest(regexp_extract_all(lower(trim(text)), '[^ \\t\\n\\x0B\\f\\r]+')) AS term
       |  FROM documents),
       | tf AS (SELECT source, term, COUNT(*) AS tf FROM terms GROUP BY 1, 2),
       | dfs AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY 1),
       | n AS (SELECT COUNT(DISTINCT source) AS n_src FROM documents),
       | wtd AS (
       |  SELECT tf.source, tf.term,
       |    CAST(tf.tf AS DOUBLE) * (ln((1 + CAST(n.n_src AS DOUBLE)) / (1 + CAST(dfs.df AS DOUBLE))) + 1) AS wt
       |  FROM tf JOIN dfs ON tf.term = dfs.term CROSS JOIN n),
       | dots AS (
       |  SELECT a.source AS source_a, b.source AS source_b, SUM(a.wt * b.wt) AS dot
       |  FROM wtd a JOIN wtd b ON a.term = b.term AND a.source < b.source
       |  GROUP BY 1, 2),
       | norms AS (SELECT source, SUM(wt * wt) AS n2 FROM wtd GROUP BY 1)
       | SELECT d.source_a, d.source_b,
       |  ${flSql("d.dot / (sqrt(na.n2) * sqrt(nb.n2))", 4)} AS similarity
       | FROM dots d
       | JOIN norms na ON na.source = d.source_a
       | JOIN norms nb ON nb.source = d.source_b""".stripMargin.replace("\n", "")

  val clusteringCommunitiesSql: String =
    s"""WITH RECURSIVE sims AS ($channelSimilaritySql),
       | thr AS (SELECT week, quantile_cont(similarity, 0.5) AS thr FROM sims GROUP BY 1),
       | e AS (
       |  SELECT s.week, s.channel_a, s.channel_b FROM sims s JOIN thr t ON s.week = t.week
       |  WHERE s.similarity > t.thr),
       | e2 AS (SELECT week, channel_a, channel_b FROM e
       |  UNION SELECT week, channel_b, channel_a FROM e),
       | nodes AS (SELECT DISTINCT week, channel FROM ($userWeeklyActivitySql)),
       | reach AS (
       |  SELECT week, channel, channel AS r FROM nodes
       |  UNION
       |  SELECT reach.week, reach.channel, e2.channel_b AS r
       |  FROM reach JOIN e2 ON e2.week = reach.week AND e2.channel_a = reach.r)
       | SELECT week, channel, MIN(r) AS community FROM reach GROUP BY 1, 2""".stripMargin.replace("\n", "")

  /** DuckDB twin: independently re-reads the SAME gzipped JSON-lines files
    * (read_json over the reference layout, video_id from the file name —
    * the oracle exercises the format, not just the aggregation) and
    * re-derives the rollup.
    */
  val fixtureRollupSql: String = {
    val cols = "{user_id: 'VARCHAR', username: 'VARCHAR', timestamp: 'DOUBLE', " +
      "membership_rank: 'INTEGER', message_category: 'VARCHAR', message: 'VARCHAR', " +
      "message_type: 'VARCHAR', gifter: 'VARCHAR'}"
    val catCols = fixtureCats.map(c =>
      s"CAST(COUNT(CASE WHEN message_type = 'chat' AND message_category = '$c' THEN 1 END) AS BIGINT) AS ${c}_count")
      .mkString(", ")
    s"""WITH cl AS (
       |  SELECT *, regexp_extract(filename, '([^/]+)\\.jsonl\\.gz$$', 1) AS video_id
       |  FROM read_json('$fixtureDir/chat_logs/*.jsonl.gz',
       |   format='newline_delimited', filename=true, columns=$cols))
       | SELECT user_id, video_id, $catCols,
       |  CAST(COUNT(CASE WHEN message_type = 'chat' THEN 1 END) AS BIGINT) AS total_message_count,
       |  MAX(CASE WHEN membership_rank >= -1 THEN membership_rank END) AS membership_rank,
       |  MAX(timestamp) AS last_ts,
       |  (COUNT(CASE WHEN message_type = 'chat' THEN 1 END) = 0) AS is_gift
       | FROM cl GROUP BY 1, 2""".stripMargin.replace("\n", "")
  }
}
