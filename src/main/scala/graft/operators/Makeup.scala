package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import EventSemantics._

/** Chat-makeup / language-rate queries (api.py:1349 get_group_chat_makeup,
  * api.py:2268 get_message_type_percents).
  *
  * "Streaming minutes" analog: sum of `value` (seconds) per channel-week.
  * `value` carries two decimals, so round(value*100) is an exact BIGINT —
  * summed order-free, divided to DOUBLE only at the end.
  */
object Makeup {

  private val valueCenti = round(col("value") * 100d).cast("long")

  /** Per channel-week: per-category messages-per-streaming-minute. */
  def chatMakeup(events: DataFrame): DataFrame = {
    val cats = Seq("jp", "kr", "ru", "emoji", "es_en_id")
    val agg = events.groupBy(channel, week.as("week"))
      .agg(
        sum(valueCenti).as("centi_s"),
        count(when(!isGift && category === "jp", 1)).as("jp_n"),
        count(when(!isGift && category === "kr", 1)).as("kr_n"),
        count(when(!isGift && category === "ru", 1)).as("ru_n"),
        count(when(!isGift && category === "emoji", 1)).as("emoji_n"),
        count(when(!isGift && category === "es_en_id", 1)).as("es_en_id_n")
      )
    val minutes = col("centi_s").cast("double") / 100d / 60d
    cats.foldLeft(agg) { (df, c) =>
      df.withColumn(s"${c}_rate_per_minute", fl(col(s"${c}_n").cast("double") / minutes, 4))
    }.select(col("channel") +: col("week") +: cats.map(c => col(s"${c}_rate_per_minute")): _*)
  }

  /** get_message_type_percents (api.py:2268) for one channel + category:
    * category % of non-emoji messages + rate per streaming minute, weekly.
    */
  def messageTypePercents(events: DataFrame, chan: String, cat: String): DataFrame = {
    val agg = events.filter(col("event_type") === chan)
      .groupBy(week.as("week"))
      .agg(
        sum(valueCenti).as("centi_s"),
        count(when(!isGift && category === cat, 1)).as("cat_n"),
        count(when(!isGift && category =!= "emoji", 1)).as("non_emoji_n")
      )
    agg
      .withColumn("percent",
        fl(col("cat_n").cast("double") * 100d / col("non_emoji_n").cast("double"), 4))
      .withColumn("message_rate",
        fl(col("cat_n").cast("double") / (col("centi_s").cast("double") / 100d / 60d), 4))
      .select("week", "percent", "message_rate")
  }

}
