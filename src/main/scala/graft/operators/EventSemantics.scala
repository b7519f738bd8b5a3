package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Canonical mapping of the generic `events` table onto the reference's
  * chat-message semantics (see SURVEY.md §1).
  *
  * Reference model (mipacd/HoloChatStats `data_ingestion/db/queries.py:44`):
  * `user_data(user_id, channel_id, last_message_at, video_id,
  * membership_rank, jp/kr/ru/emoji/es_en_id counts, total, is_gift)`.
  *
  * Analog: channel = event_type, "video" = channel-day, period ("month")
  * = ISO week, message category and membership rank derived
  * deterministically from `value` / `user_id` so every downstream operator
  * (pivots, LAG transitions, rank dedups) is exercised end-to-end with a
  * DuckDB-checkable oracle.
  *
  * Each derivation exists twice — as a Spark `Column` and as a SQL snippet
  * (DuckDB dialect) — defined side by side so they cannot drift.
  */
object EventSemantics {

  // ---- channel ------------------------------------------------------------
  val channel: Column = col("event_type").as("channel")

  // ---- periods ------------------------------------------------------------
  val day: Column = to_date(date_trunc("day", col("ts")))

  val week: Column = to_date(date_trunc("week", col("ts")))

  // ---- message category (chat_parser.categorize_message analog) -----------
  // Deterministic 5-way split on `value` (double comparisons are identical
  // in any engine). Mirrors jp/kr/ru/emoji/es_en_id.
  val category: Column =
    when(col("value") < 10d, "emoji")
      .when(col("value") < 25d, "jp")
      .when(col("value") < 50d, "es_en_id")
      .when(col("value") < 100d, "kr")
      .otherwise("ru")

  // ---- membership rank (chat_parser.parse_membership_rank analog) ---------
  // Drifts by day per user so rank *transitions* occur (gains/losses/LAG
  // queries). -1 = non-member; 0..6 = member tiers.
  val membershipRank: Column =
    ((col("user_id") + dayofmonth(col("ts"))) % 8 - 1).cast("int")

  // ---- gift flag (chat_downloader gift_member analog) ----------------------
  val isGift: Column = col("event_id") % 97 === 0

  // ---- humor flag (feature_analysis.has_humor analog) ----------------------
  val isHumor: Column = col("value") < 10d

  /** The `user_data` table build — reference chat_downloader.py:152-179.
    * One row per (user, channel, day): category-pivot counts over real
    * (non-gift) events, total message count, latest rank, last timestamp,
    * gift-only flag.
    */
  def userData(events: DataFrame): DataFrame = {
    val cats = Seq("jp", "kr", "ru", "emoji", "es_en_id")
    val catCols = cats.map { c =>
      count(when(!isGift && category === c, 1)).as(s"${c}_count")
    }
    events
      .groupBy(col("user_id"), channel, day.as("day"))
      .agg(
        catCols.head,
        (catCols.tail :+
          count(when(!isGift, 1)).as("total_message_count") :+
          max(membershipRank).as("membership_rank") :+
          max(col("ts")).as("last_ts") :+
          (count(when(!isGift, 1)) === 0).as("is_gift")): _*
      )
  }

  /** Weekly activity rollup — mv_user_monthly_activity analog
    * (db/queries.py:179): user x channel x week -> message count,
    * excluding gift-only rows.
    */
  def userWeeklyActivity(events: DataFrame): DataFrame =
    events
      .filter(!isGift)
      .groupBy(col("user_id"), channel, week.as("week"))
      .agg(count(lit(1)).as("messages"))

  /** Incremental maintenance of the weekly rollup — the reference's
    * monthly MV refresh (`refresh_membership_data_for_month`,
    * db/queries.py:120) re-expressed as additive merge: aggregate ONLY the
    * new event partition, then re-aggregate against the stored rollup.
    * Counts are additive, so increment(rollup(old), new) ≡ rollup(old ∪
    * new) at any split — `q_rollup_incremental` proves that equivalence
    * against the full-scan oracle.
    *
    * Scale: the 100 TB history is never re-scanned — the fact pass
    * touches only the new partition (days, not years, of events); the
    * merge shuffles |rollup| + |delta| keyed by the rollup key, and on a
    * warehouse where the stored rollup is bucketed by user_id
    * (Layout.writeBucketed) the stored side moves through NO exchange.
    */
  def incrementRollup(storedRollup: DataFrame, newEvents: DataFrame): DataFrame =
    storedRollup
      .unionByName(userWeeklyActivity(newEvents))
      .groupBy("user_id", "channel", "week")
      .agg(sum("messages").as("messages"))

  /** Incremental maintenance of the [[userData]] MV itself (the relation
    * the whole membership family derives from): every userData aggregate
    * is MERGEABLE — category/total counts are additive, membership_rank
    * and last_ts are maxes, is_gift re-derives from the merged total — so
    * increment(userData(old), new) ≡ userData(old ∪ new) at any split;
    * `q_userdata_incremental` proves it against the full-scan oracle.
    * Same scale shape as [[incrementRollup]]: the fact pass touches only
    * the new partition.
    */
  def incrementUserData(storedUd: DataFrame, newEvents: DataFrame): DataFrame = {
    val cats = Seq("jp", "kr", "ru", "emoji", "es_en_id")
    storedUd
      .unionByName(userData(newEvents))
      .groupBy("user_id", "channel", "day")
      .agg(
        sum(s"${cats.head}_count").as(s"${cats.head}_count"),
        (cats.tail.map(c => sum(s"${c}_count").as(s"${c}_count")) :+
          sum("total_message_count").as("total_message_count") :+
          max("membership_rank").as("membership_rank") :+
          max("last_ts").as("last_ts") :+
          (sum("total_message_count") === 0).as("is_gift")): _*
      )
  }

  /** Deterministic rounding used everywhere a ratio leaves the engine:
    * floor(x * 10^s) / 10^s — no round-half ambiguity between engines.
    */
  /** The streaming twins' week key `window(ts, '7 days', '7 days',
    * '4 days')` is epoch/UTC-aligned while the batch
    * `date_trunc('week', ts)` truncates in the SESSION timezone — the
    * batch≡stream twin contract only holds in a zero-offset session (a
    * Monday-02:00-local event in America/New_York would land in different
    * weeks per mode). Every graft entry point pins
    * spark.sql.session.timeZone=UTC; this guard makes a non-UTC caller
    * fail at plan build instead of silently shifting week boundaries.
    */
  def requireUtcSession(df: DataFrame, op: String): Unit = {
    val tz = df.sparkSession.sessionState.conf.sessionLocalTimeZone
    // normalize through ZoneId rules rather than a string allowlist: every
    // FIXED zero-offset spelling Spark accepts (UTC, Etc/UTC, Etc/GMT,
    // GMT0, Z, +00:00, UTC+00:00, ...) passes; zones that are merely
    // zero-offset part of the year (Europe/London) are not fixed and fail
    val isUtc =
      try {
        val rules = java.time.ZoneId.of(tz, java.time.ZoneId.SHORT_IDS).getRules
        rules.isFixedOffset && rules.getOffset(java.time.Instant.EPOCH) == java.time.ZoneOffset.UTC
      } catch { case _: java.time.DateTimeException => false }
    require(isUtc,
      s"$op: streaming week windows are UTC-aligned but spark.sql.session.timeZone=$tz; " +
        "set it to UTC or the batch and streaming twins will place week-boundary events differently")
  }

  def fl(c: Column, scale: Int): Column = {
    val p = math.pow(10, scale)
    floor(c * p) / p
  }
}
