package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import EventSemantics.fl

/** Streaming-hours queries (reference web/utils.py:261 streaming_hours_query
  * and api.py:1122-2023). "Videos" analog: `orders` rows, with
  * o_totalprice as the stream duration in seconds and the customer as the
  * channel (SURVEY.md §1).
  *
  * Determinism: durations are summed as DECIMAL(18,2) (exact, order-free)
  * and only converted to DOUBLE for the final /3600 — both engines produce
  * bit-identical doubles.
  *
  * Scale: orders is the fact side; customer is a dim -> broadcast join, so
  * the only shuffle is the (channel, month) aggregation with map-side
  * partial aggregation.
  */
object StreamingHours {

  private def videos(orders: DataFrame, customer: DataFrame): DataFrame =
    orders.join(
      broadcast(customer.select(
        col("c_custkey"),
        col("c_name").as("channel"),
        col("c_mktsegment").as("channel_group"))),
      col("o_custkey") === col("c_custkey"))
      .select(
        col("channel"), col("channel_group"),
        to_date(date_trunc("month", col("o_orderdate"))).as("month"),
        col("o_totalprice").cast("decimal(18,2)").as("duration_s"))

  /** SUM variant — get_group_total_streaming_hours (api.py:1232). */
  def total(orders: DataFrame, customer: DataFrame): DataFrame =
    videos(orders, customer)
      .groupBy("channel", "channel_group", "month")
      .agg(sum("duration_s").as("dur"))
      .withColumn("hours", fl(col("dur").cast("double") / 3600d, 4))
      .drop("dur")

  /** AVG variant — get_group_avg_streaming_hours (api.py:1271). */
  def avg(orders: DataFrame, customer: DataFrame): DataFrame =
    videos(orders, customer)
      .groupBy("channel", "channel_group", "month")
      .agg(sum("duration_s").as("dur"), count(lit(1)).as("n"))
      .withColumn("hours",
        fl(col("dur").cast("double") / col("n").cast("double") / 3600d, 4))
      .drop("dur", "n")

  /** MAX variant — get_group_max_streaming_hours (api.py:1310). */
  def max(orders: DataFrame, customer: DataFrame): DataFrame =
    videos(orders, customer)
      .groupBy("channel", "channel_group", "month")
      .agg(org.apache.spark.sql.functions.max("duration_s").as("dur"))
      .withColumn("hours", fl(col("dur").cast("double") / 3600d, 4))
      .drop("dur")

  /** get_monthly_streaming_hours (api.py:1122): one channel over time. */
  def monthlyHours(orders: DataFrame, customer: DataFrame, custkey: Long): DataFrame =
    videos(orders, customer.filter(col("c_custkey") === custkey))
      .groupBy("month")
      .agg(sum("duration_s").as("dur"))
      .withColumn("total_streaming_hours", fl(col("dur").cast("double") / 3600d, 4))
      .drop("dur")

  /** get_group_streaming_hours_diff (api.py:1943): month-over-month change
    * via self-join on month+1 (exact decimal subtraction, then double).
    */
  def hoursDiff(orders: DataFrame, customer: DataFrame): DataFrame = {
    val monthly = videos(orders, customer)
      .groupBy("channel", "month")
      .agg(sum("duration_s").as("dur"))
    // The reference formulates this as a self-join on month-1; LAG over
    // (channel ORDER BY month) with a continuity guard is semantically
    // identical (a gap month makes prev_dur null, so change = dur) and
    // needs ONE rollup + one tiny channel-keyed window shuffle instead of
    // computing the orders-join-rollup twice.
    val w = Window.partitionBy("channel").orderBy(col("month").asc)
    monthly
      .withColumn("prev_month", lag("month", 1).over(w))
      .withColumn("prev_dur",
        when(add_months(col("prev_month"), 1) === col("month"),
          lag("dur", 1).over(w)))
      .withColumn("hours", fl(col("dur").cast("double") / 3600d, 4))
      .withColumn("change",
        fl(coalesce(col("dur") - col("prev_dur"), col("dur")).cast("double") / 3600d, 4))
      .select("channel", "month", "hours", "change")
  }

  /** get_channel_names (api.py:2571): the channel dim, alphabetical. */
  def channelNames(customer: DataFrame): DataFrame =
    customer.select(col("c_name").as("channel_name")).orderBy("channel_name")

  /** get_date_ranges (api.py:2596): earliest/latest video end time — one
    * all-null-group aggregate, a single partial-agg reduction at any scale.
    */
  def dateRanges(orders: DataFrame): DataFrame =
    // qualified: this object's own max(orders, customer) shadows functions.max
    orders.agg(
      org.apache.spark.sql.functions.min(col("o_orderdate")).as("min_date"),
      org.apache.spark.sql.functions.max(col("o_orderdate")).as("max_date"))

}
