package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Streaming exact deduplication (SURVEY §2 #59) — the ingestion-time half
  * of the training-data dedup story: drop re-crawled/re-sent copies before
  * they ever land in the corpus, instead of (or in addition to) batch
  * dedup over the accumulated corpus.
  *
  * Streaming mode is `dropDuplicatesWithinWatermark` on the content hash:
  * state holds one (hash, first-seen-ts) entry per unique document and the
  * watermark EVICTS entries once no duplicate can still arrive — without it
  * the state store grows with corpus cardinality forever, which is the
  * failure mode that matters at 100 TB/day ingestion. First arrival wins,
  * exactly like the batch twin's min-doc_id survivor under arrival order =
  * doc_id order.
  *
  * Reference anchor: the ingestion pipeline's idempotent re-crawl handling
  * (workers/chat_downloader.py re-downloads a stream's chat and must not
  * double-count messages; `user_data` upserts per (user, video) —
  * db/queries.py ON CONFLICT). Generalized here to content-hash dedup of
  * documents.
  */
object DedupStream {

  /** Canonicalized content hash (same canonicalization as the Dedup suite). */
  private def contentHash = sha2(lower(trim(col("text"))), 256)

  /** Streaming mode: input must have an event-time `ts` column. State is
    * bounded by the watermark horizon; output is append-mode capable.
    */
  def dedupStream(docs: DataFrame, watermark: String = "1 hour"): DataFrame =
    docs
      .withColumn("content_hash", contentHash)
      .withWatermark("ts", watermark)
      .dropDuplicatesWithinWatermark("content_hash")

  /** Batch twin for the oracle: first-arrival (min doc_id) survivor per
    * content group. Takes the caller's corpus verbatim (the oracle query
    * feeds it the planted fixture at the registry boundary).
    */
  def survivors(documents: DataFrame): DataFrame =
    documents
      .select(col("doc_id"), contentHash.as("content_hash"))
      .groupBy("content_hash")
      .agg(min("doc_id").as("doc_id"))
      .select("doc_id", "content_hash")

}
