package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.EventSemantics

/** Streaming burst detection (SURVEY §2 #65) — the ingest-time twin of the
  * batch highlight-velocity operator (`Highlights.highlightVelocity`,
  * reference `utils/ai_summarizer.py:138-154`): emit every (channel,
  * window) whose message count exceeds the burst threshold, as the stream
  * arrives, instead of ranking buckets after the fact.
  *
  * One transform, two modes (same pattern as [[EventStream]]): on a
  * `readStream` source it is a watermarked tumbling-window aggregation —
  * in append mode a burst row is emitted exactly once, when the watermark
  * finalizes its window; on a batch DataFrame the identical code is the
  * DuckDB-verified oracle twin.
  *
  * Scale: state is keyed by (window, channel) — bounded by channels ×
  * active-windows regardless of event volume, and the watermark evicts
  * every window older than the lateness bound. The burst filter sits
  * ABOVE the aggregation, so it costs nothing extra; the aggregation
  * itself is partial (map-side) before its one exchange.
  */
object VelocityStream {

  /** Tumbling `bucket` windows per channel; rows with velocity > minBurst.
    * Gift events don't count toward chat velocity (same rule as the batch
    * operator).
    */
  def bursts(events: DataFrame, bucket: String = "15 minutes",
             minBurst: Long = 5L, watermark: Option[String] = None): DataFrame = {
    val src = watermark.fold(events)(w => events.withWatermark("ts", w))
    src
      .filter(!EventSemantics.isGift)
      .groupBy(window(col("ts"), bucket).as("w"), EventSemantics.channel)
      .agg(count(lit(1)).as("velocity"))
      .filter(col("velocity") > minBurst)
      .select(col("w.start").as("spike_start"), col("channel"), col("velocity"))
  }

}
