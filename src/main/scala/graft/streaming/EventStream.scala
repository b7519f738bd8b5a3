package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Structured-Streaming sessionization (SURVEY §2 #50).
  *
  * One transform, two execution modes: applied to `readStream` input it is
  * an incremental watermarked windowed aggregation (append-capable once the
  * watermark passes the window end); applied to a batch DataFrame it is the
  * oracle twin the driver verifies against DuckDB. `EventStreamSpec` proves
  * the two modes produce identical results by pushing the same rows through
  * a MemoryStream.
  *
  * Scale: the state store keys by (window, channel) — bounded by
  * channels × active-windows, independent of event volume; the watermark
  * bounds state retention to one window of lateness.
  */
object EventStream {

  /** Tumbling event-time windows per channel: event count + distinct users.
    * `approx` users (HLL) would be the streaming-native choice at 100 TB;
    * exact distinct keeps the oracle comparable and is still bounded here.
    */
  def sessionize(events: DataFrame, windowLen: String = "6 hours",
                 watermark: Option[String] = None): DataFrame = {
    val src = watermark.fold(events)(w => events.withWatermark("ts", w))
    src
      .groupBy(window(col("ts"), windowLen).as("w"), col("event_type").as("channel"))
      .agg(count(lit(1)).as("n_events"), approx_count_distinct("user_id").as("approx_users"))
      .select(col("w.start").as("window_start"), col("channel"), col("n_events"), col("approx_users"))
  }

  /** Exact batch twin used for the DuckDB compare (approx_count_distinct is
    * engine-specific, so the oracle query counts exactly — and so does this).
    */
  def sessionizeExact(events: DataFrame, windowSeconds: Long = 21600L): DataFrame =
    events
      .groupBy(
        timestamp_seconds(floor(unix_timestamp(col("ts")) / windowSeconds) * windowSeconds).as("window_start"),
        col("event_type").as("channel"))
      .agg(count(lit(1)).as("n_events"), countDistinct("user_id").as("n_users"))

  /** GAP-based sessionization per user — Spark's native `session_window`
    * (dynamic windows that extend `gap` past each event and merge while
    * they overlap), the operator behind "user session" analytics. In
    * streaming mode the state store holds one open session per active
    * user, closed and emitted when the watermark passes session end; in
    * batch mode the same expression is the oracle-checked twin.
    *
    * Scale: state is ONE (start, end, count) triple per user with an open
    * session — bounded by active users inside the gap horizon, not event
    * volume. Merge semantics: a new event joins the session when its time
    * is strictly less than previous end (= prev ts + gap), so the oracle's
    * LAG formulation breaks sessions on diff >= gap.
    */
  def gapSessions(events: DataFrame, gap: String = "30 minutes",
                  watermark: Option[String] = None): DataFrame = {
    val src = watermark.fold(events)(w => events.withWatermark("ts", w))
    src
      .groupBy(session_window(col("ts"), gap).as("w"), col("user_id"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("user_id"), col("w.start").as("session_start"), col("n_events"))
  }

}
