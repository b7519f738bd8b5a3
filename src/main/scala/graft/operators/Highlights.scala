package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import EventSemantics._

/** Highlight detection — the reference's funniest-moment bucketing
  * (utils/feature_analysis.py:30 get_feature_timestamps) and the AI-summary
  * chat-velocity candidate moments (utils/ai_summarizer.py:138-154).
  *
  * Both are per-stream ("channel-day") bucket-argmax plans: bucket the
  * event time, count per bucket, rank inside the partition. The ranking
  * window is per channel-day, so partitions stay small and independent at
  * any scale; ties break on earliest bucket for determinism.
  */
object Highlights {

  private val epochS = floor(col("ts").cast("double")).cast("long")

  /** Funniest moment per channel-day: 30-minute humor-concentration
    * buckets, argmax, shifted back 10 s (reference uses 30 s buckets on
    * seconds-dense chat; the bucket width scales with event density).
    */
  def funniestMoment(events: DataFrame, bucketS: Long = 1800L): DataFrame = {
    val counts = events
      .filter(isHumor && !isGift)
      .groupBy(channel, EventSemantics.day.as("day"), floor(epochS / bucketS).cast("long").as("bucket"))
      .agg(count(lit(1)).as("humor_n"))
    val w = Window.partitionBy("channel", "day")
      .orderBy(col("humor_n").desc, col("bucket").asc)
    counts
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .withColumn("funniest_ts", col("bucket") * bucketS - 10L)
      .select("channel", "day", "funniest_ts", "humor_n")
  }

  /** Chat-velocity highlight candidates per channel-day: 15-minute message
    * buckets, top-N above a minimum burst size (ai_summarizer.py:139-143:
    * nlargest(num_highlights) with count > 9).
    */
  def highlightVelocity(events: DataFrame, bucketS: Long = 900L, topN: Int = 3, minBurst: Long = 5L): DataFrame = {
    val counts = events
      .filter(!isGift)
      .groupBy(channel, EventSemantics.day.as("day"), floor(epochS / bucketS).cast("long").as("bucket"))
      .agg(count(lit(1)).as("velocity"))
    val w = Window.partitionBy("channel", "day")
      .orderBy(col("velocity").desc, col("bucket").asc)
    counts
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= topN && col("velocity") > minBurst)
      .withColumn("spike_start", col("bucket") * bucketS)
      .select("channel", "day", "spike_start", "velocity")
  }

  /** get_video_highlights (api.py:2918): per-video highlight listing for a
    * channel group and month — highlights (lineitem) joined to videos
    * (orders) and the channel dim, with the relative-offset computation
    * (reference: start_seconds - (end_time - duration)).
    *
    * Scale: the month predicate prunes the orders scan (partition pruning
    * on a date-partitioned layout), the channel dim is broadcast, and the
    * highlight-video join is keyed by video id — the natural co-partition
    * (bucket both by video id to make it shuffle-free).
    */
  def videoHighlights(lineitem: DataFrame, orders: DataFrame, customer: DataFrame,
                      group: String = "AUTOMOBILE", month: String = "1996-03-01"): DataFrame =
    lineitem
      .join(orders.filter(to_date(date_trunc("month", col("o_orderdate"))) === to_date(lit(month))),
        col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(customer.filter(col("c_mktsegment") === group)
          .select(col("c_custkey"), col("c_name").as("channel"))),
        col("o_custkey") === col("c_custkey"))
      .select(
        col("l_orderkey").as("video_id"),
        col("channel"),
        col("o_orderpriority").as("title"),
        col("l_returnflag").as("topic_tag"),
        col("l_linenumber").as("highlight_idx"),
        datediff(col("l_shipdate"), col("o_orderdate")).cast("int").as("relative_days"))

  /** get_funniest_timestamps (api.py:2680): per-video funniest-moment
    * offsets for one channel group and month. The reference query computes a
    * `last_chat` relation (MAX(last_message_at) per video inside the month),
    * joins it back to the videos of the channel, and projects
    * `EXTRACT(EPOCH FROM funniest - last_message_at + duration)` — the
    * player-relative seek offset. Testdata mapping: videos = `orders`
    * (duration seconds = floor(o_totalprice), end_time = o_orderdate),
    * per-video chat = `lineitem` (l_shipdate as message time), funniest
    * analog = mid-stream (end - duration + duration/2).
    *
    * Scale: the month predicate prunes the lineitem scan; the channel dim is
    * broadcast; last_chat is a partial-agg rollup keyed by video id joining
    * orders on its natural key (bucket both by order key → shuffle-free).
    */
  def funniestOffsets(lineitem: DataFrame, orders: DataFrame, customer: DataFrame,
                      group: String = "AUTOMOBILE", month: String = "1996-03-01"): DataFrame = {
    val monthStart = to_date(lit(month))
    val chans = broadcast(customer.filter(col("c_mktsegment") === group)
      .select(col("c_custkey"), col("c_name").as("channel")))
    val vids = orders.join(chans, col("o_custkey") === col("c_custkey"))
      .select(col("o_orderkey"), col("channel"), col("o_orderpriority").as("title"),
        floor(col("o_orderdate").cast("timestamp").cast("double")).cast("long").as("end_epoch"),
        floor(col("o_totalprice")).cast("long").as("dur"))
    // last_chat aggregates the MONTH's chat per video with no group
    // prune — exactly the oracle CTE's shape. The month predicate prunes
    // the fact at the scan; MAX is a partial (map-side) aggregate, so the
    // only shuffle carries per-video partials (∝ distinct videos chatting
    // in the month, agg-compressed), never pre-agg fact rows — the same
    // bytes a group-scoped rollup would shuffle into its own final agg.
    // Other groups' videos drop out of the final inner join on vids, so
    // rows are unchanged. An earlier round pruned the fact with a FORCED
    // broadcast semi-join on the group's video keys; vids is the group's
    // ALL-TIME order keys — a fact-proportional relation — so the
    // unconditional hint was a driver-OOM/broadcast-limit hazard at scale
    // (ADVICE r11), and with partial aggregation it bought nothing the
    // agg does not already do.
    val lastChat = lineitem
      .filter(col("l_shipdate") >= monthStart && col("l_shipdate") < add_months(monthStart, 1))
      .groupBy(col("l_orderkey"))
      .agg(floor(max(col("l_shipdate")).cast("timestamp").cast("double")).cast("long").as("last_chat_epoch"))
    vids
      .join(lastChat, col("o_orderkey") === col("l_orderkey"))
      .select(
        col("o_orderkey").as("video_id"), col("channel"), col("title"),
        // funniest = end - dur + dur/2; relative = funniest - last_chat + dur
        (col("end_epoch") - col("dur") + expr("dur div 2")
          - col("last_chat_epoch") + col("dur")).as("relative_ts"))
  }

  /** Chat-log coverage QA (data_ingestion/check_log_length.py): how much of
    * each channel-day the chat log actually spans, as the fraction of
    * distinct 15-minute buckets with at least one message. One partial-agg
    * shuffle; integer bucket math is engine-exact.
    */
  def logCoverage(events: DataFrame, bucketS: Long = 900L): DataFrame = {
    val bucketsPerDay = 86400L / bucketS
    events.filter(!isGift)
      .groupBy(channel, EventSemantics.day.as("day"))
      .agg(
        countDistinct(floor(epochS / bucketS)).as("buckets"),
        count(lit(1)).as("n_messages"))
      .withColumn("coverage_pct",
        fl(col("buckets").cast("double") * 100d / lit(bucketsPerDay).cast("double"), 4))
  }

}
