package graft

import java.lang.ref.SoftReference

import scala.collection.mutable

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.analysis.MultiInstanceRelation
import org.apache.spark.sql.graftbridge.DataFrameBridge

/** Readers for the driver-generated testdata tables, each resolved once per
  * session.
  *
  * Every operator in the library takes `DataFrame`s, so these readers are
  * the only place that knows about file layout. Paths are parquet files or
  * directories — at cluster scale these would be partitioned table roots;
  * the reader code is identical.
  *
  * Schemas come from the parquet footers. Resolving a path (file listing,
  * a one-task schema-inference job, DataSource resolution) is done once per
  * session and per value of the nanos-as-long conf, the way Spark's session
  * catalog keeps resolved catalog tables; each later read gets a fresh
  * instance of that relation (new expression ids, so two reads in one
  * query still self-join as two relations) and starts no Spark job. Only
  * metadata is kept, never rows: every query still scans its files. Each
  * entry carries a stamp of the files it was resolved from (leaf path,
  * length, modification time); a read whose stamp differs resolves the
  * path again, and a missing path is never memoized, so it fails exactly
  * as `spark.read.parquet` does.
  */
object Tables {
  private val NanosAsLong = "spark.sql.legacy.parquet.nanosAsLong"

  private type Stamp = Seq[(String, Long, Long)]
  private type Entries = mutable.Map[(String, String), (Stamp, MultiInstanceRelation)]

  /** Resolved relations per session, keyed by (path, nanos-as-long value).
    * Sessions are weak keys, so a dropped session's entries go with it.
    * The per-session map is held softly because a resolved relation points
    * back at its session: held strongly, it would keep its own weak key
    * alive for good.
    */
  private val resolved = new java.util.WeakHashMap[SparkSession, SoftReference[Entries]]

  /** Sorted (leaf path, length, modification time) under `path`; None if
    * the path does not exist.
    */
  private def stamp(spark: SparkSession, path: String): Option[Stamp] = {
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    def leaves(s: FileStatus): Seq[FileStatus] =
      if (s.isDirectory) fs.listStatus(s.getPath).toSeq.flatMap(leaves) else Seq(s)
    try Some(leaves(fs.getFileStatus(p)).map(s => (s.getPath.toString, s.getLen, s.getModificationTime)).sorted)
    catch { case _: java.io.FileNotFoundException => None }
  }

  private def parquet(spark: SparkSession, path: String): DataFrame =
    stamp(spark, path).fold(spark.read.parquet(path)) { st =>
      val key = (path, spark.conf.get(NanosAsLong, "false"))
      def entries = Option(resolved.get(spark)).flatMap(r => Option(r.get))
      resolved.synchronized(entries.flatMap(_.get(key))) match {
        case Some((`st`, plan)) => DataFrameBridge.ofRows(spark, plan.newInstance())
        case _ =>
          val df = spark.read.parquet(path)
          resolved.synchronized {
            val m = entries.getOrElse {
              val m: Entries = mutable.Map.empty
              resolved.put(spark, new SoftReference(m))
              m
            }
            m(key) = (st, DataFrameBridge.plan(df).asInstanceOf[MultiInstanceRelation])
          }
          df
      }
    }

  def region(spark: SparkSession, dir: String): DataFrame    = parquet(spark, s"$dir/region.parquet")
  def nation(spark: SparkSession, dir: String): DataFrame    = parquet(spark, s"$dir/nation.parquet")
  def customer(spark: SparkSession, dir: String): DataFrame  = parquet(spark, s"$dir/customer.parquet")
  def supplier(spark: SparkSession, dir: String): DataFrame  = parquet(spark, s"$dir/supplier.parquet")
  def part(spark: SparkSession, dir: String): DataFrame      = parquet(spark, s"$dir/part.parquet")
  def orders(spark: SparkSession, dir: String): DataFrame    = parquet(spark, s"$dir/orders.parquet")
  def lineitem(spark: SparkSession, dir: String): DataFrame  = parquet(spark, s"$dir/lineitem.parquet")
  /** events.ts has shipped as parquet TIMESTAMP(NANOS) in one testdata
    * generation and TIMESTAMP(MICROS, isAdjustedToUTC=false) in another, so
    * the reader branches on the type it actually gets:
    *   - LongType (nanos surfaced via the legacy nanos-as-long conf, which
    *     is a no-op for non-nanos columns): truncate to micros with integer
    *     division — exactly what DuckDB does reading the same file.
    *   - TIMESTAMP_NTZ (micros, no zone): cast to TIMESTAMP; all engine
    *     sessions run with session timeZone=UTC, so the wall-clock value is
    *     read as the same UTC instant DuckDB sees.
    *   - TIMESTAMP: pass through.
    */
  def events(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions.{col, expr, timestamp_micros}
    import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}
    spark.conf.set(NanosAsLong, "true")
    val raw = parquet(spark, s"$dir/events.parquet")
    raw.schema("ts").dataType match {
      case LongType         => raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case TimestampType    => raw
      case TimestampNTZType => raw.withColumn("ts", col("ts").cast(TimestampType))
      // any other shape must fail HERE, not produce silent NULLs/garbage
      // downstream (SchemaContractSpec pins the accepted three)
      case other => sys.error(s"events.ts has unsupported type $other — extend Tables.events")
    }
  }
  def documents(spark: SparkSession, dir: String): DataFrame = parquet(spark, s"$dir/documents.parquet")
  def embeddings(spark: SparkSession, dir: String): DataFrame = parquet(spark, s"$dir/embeddings.parquet")

  /** Every table, by its view name. */
  val all: Seq[(String, (SparkSession, String) => DataFrame)] = Seq(
    "region" -> region _, "nation" -> nation _, "customer" -> customer _,
    "supplier" -> supplier _, "part" -> part _, "orders" -> orders _,
    "lineitem" -> lineitem _, "events" -> events _,
    "documents" -> documents _, "embeddings" -> embeddings _)

  /** Register every table as a temp view (plus [[GraftExtensions.register]]
    * for the functions) so the full engine is drivable from `spark.sql`.
    */
  def registerAll(spark: SparkSession, dir: String): Unit = {
    all.foreach { case (name, rd) =>
      // only "path does not exist" is tolerated (table absent at this
      // SF); any other analysis error must surface, not silently skip
      try rd(spark, dir).createOrReplaceTempView(name)
      catch {
        case e: org.apache.spark.sql.AnalysisException
            if e.getCondition != null && e.getCondition.startsWith("PATH_NOT_FOUND") => ()
      }
    }
    GraftExtensions.register(spark)
  }
}
