package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.Vectors

/** Ingest-time cluster-share drift monitoring (SURVEY §2 #113) — the
  * streaming face of the clustering layer: score an embedding stream
  * against centroids trained OFFLINE by `Vectors.clusterKmeans` (the
  * train-batch / monitor-stream split every production drift detector
  * uses), and emit per-window cluster counts. A shift in the cluster
  * mix across windows is the canonical distribution-drift signal for an
  * ingestion pipeline feeding a training-data build.
  *
  * One transform, two modes (the [[VelocityStream]] pattern): on a
  * `readStream` source it is a watermarked tumbling-window aggregation —
  * append mode emits each (window, cluster) row exactly once, when the
  * watermark closes the window; on a batch DataFrame the identical code
  * is the oracle twin, checked hash-exact against the unrolled k-means
  * CTE chain + the same window arithmetic in DuckDB.
  *
  * Scale: assignment is a pure in-row projection against centroid
  * literals (zero joins); state is bounded by k × active-windows
  * regardless of stream volume, and the watermark evicts closed windows.
  * The aggregation partial-aggregates map-side before its one exchange.
  */
object ClusterStream {

  /** Per-(tumbling window, cluster) member counts of `embs` (a relation
    * with `ts` + `embedding`) against the trained `cent` centroids.
    * Invalid vectors (null / wrong dim / null element) are dropped, the
    * same rule as the batch k-means family.
    */
  def clusterCounts(embs: DataFrame, cent: Array[Array[Double]],
                    bucket: String = "15 minutes",
                    watermark: Option[String] = None): DataFrame = {
    val src = watermark.fold(embs)(w => embs.withWatermark("ts", w))
    // embValid, not kmValid: the documented input shape is (ts, embedding)
    // — requiring a vec_id column here would fail analysis on exactly the
    // relation this operator is for, and the counts never use an id
    val valid = src.filter(col("ts").isNotNull && Vectors.embValid)
    if (cent.isEmpty)
      return valid.filter(lit(false))
        .select(col("ts").as("window_start"), lit(0).cast("int").as("cluster"),
          lit(0L).as("n"))
    valid
      .select(col("ts"), Vectors.kmNearest(cent).getField("cluster").as("cluster"))
      .groupBy(window(col("ts"), bucket).as("w"), col("cluster"))
      .agg(count(lit(1)).as("n"))
      .select(col("w.start").as("window_start"), col("cluster"), col("n"))
  }

}
