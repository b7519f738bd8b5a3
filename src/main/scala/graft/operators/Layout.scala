package graft.operators

import org.apache.spark.sql.DataFrame

/** Physical-layout utilities for the 100 TB deploy path (SURVEY §4,
  * SCALING.md): bucketing co-locates join/aggregation keys at WRITE time so
  * repeated joins on the key never shuffle at read time.
  *
  * The fact-side relations that every overlap/similarity operator joins on
  * (user_id) and the IVF cell assignment are the intended bucket keys: a
  * corpus written `bucketBy(N, "user_id")` makes the matrix/attrition
  * self-joins exchange-free, and `bucketBy(N, "cell")` makes IVF probes
  * partition-pruned scans. `LayoutSpec` pins the exchange-free plan shape.
  */
object Layout {

  /** Write `df` as a bucketed, in-bucket-sorted table in the session
    * catalog. Readers in any later session of the same warehouse get
    * shuffle-free joins/aggregations on `key` against other tables
    * bucketed the same way (same key, same bucket count).
    *
    * One file per bucket: written as `df` is partitioned, each writer task
    * would open a file per bucket it holds (up to partitions × buckets).
    * The rows are rebalanced on their bucket id, `pmod(hash(key), buckets)`
    * (Spark's; the hint takes column names only), so AQE coalesces a small
    * table into one writer task and splits a bucket past the advisory
    * partition size across several; `repartition(buckets, key)` would
    * always run `buckets` tasks.
    */
  def writeBucketed(df: DataFrame, table: String, key: String, buckets: Int): Unit = {
    import org.apache.spark.sql.functions.{col, hash, lit, pmod}
    val bucket = "__graft_bucket"
    df.withColumn(bucket, pmod(hash(col(key)), lit(buckets)))
      .hint("rebalance", bucket)
      .drop(bucket)
      .write
      .mode("overwrite")
      .format("parquet")
      .bucketBy(buckets, key)
      .sortBy(key)
      .saveAsTable(table)
  }

  /** Write `df` Hive-partitioned by the month of `tsCol` (directories
    * `month=YYYY-MM-01/`) — the layout that makes every month-scoped query
    * in the suite a partition-pruned scan and [[resetMonth]] a
    * metadata-only delete.
    */
  def writeMonthPartitioned(df: DataFrame, root: String, tsCol: String): Unit = {
    import org.apache.spark.sql.functions._
    df.withColumn("month", to_date(date_trunc("month", col(tsCol))))
      .write.mode("overwrite").partitionBy("month").parquet(root)
  }

  /** Month-partition retention — the reference's `reset_month.py`
    * (data_ingestion/reset_month.py:100 `clean_database`: DELETE one
    * month's rows from videos/user_data; :32/:78 `clean_video_cache` /
    * `clean_chat_logs`: remove the month's cache files). On a
    * month-partitioned table the same operation is a PARTITION DROP: count
    * the month's rows through a partition-pruned scan (the `month = lit`
    * filter never reads other partitions), then delete the partition
    * directory — no rewrite of any surviving row, which is what makes
    * retention feasible on a 100 TB table (a filtered rewrite would scan
    * and rewrite everything). In a deployed warehouse the directory delete
    * is `ALTER TABLE ... DROP PARTITION` / a table-format delete; the
    * filesystem form here is byte-for-byte what those do to this layout.
    *
    * Returns the number of rows in the dropped (or, with `dryRun`, the
    * would-be-dropped) month — the count the reference prints.
    */
  def resetMonth(spark: org.apache.spark.sql.SparkSession, root: String,
                 monthStart: String, dryRun: Boolean = false): Long = {
    import org.apache.spark.sql.functions.{col, lit, to_date}
    val n = spark.read.parquet(root)
      .filter(col("month") === to_date(lit(monthStart))).count()
    if (!dryRun) {
      val dir = new org.apache.hadoop.fs.Path(root, s"month=$monthStart")
      val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
      fs.delete(dir, true)
    }
    n
  }
}
