package graft

import java.nio.file.Files

import org.apache.spark.sql.{AnalysisException, DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.graftbridge.DataFrameBridge

/** The per-session table memo of [[Tables]]: a repeated read starts no
  * Spark job and returns the same rows, two reads self-join as two
  * relations, an overwritten path is resolved again, a missing path fails
  * as before, and every session resolves its own entry.
  */
class TablesSpec extends SparkSpec {

  /** `body`'s result and the Spark jobs it started. */
  private def jobs[T](s: SparkSession)(body: => T): (T, Long) = {
    val counter = new JobCounter(s.sparkContext)
    try {
      val r = body
      (r, counter.snapshot().jobs)
    } finally s.sparkContext.removeSparkListener(counter)
  }

  private def tempDir(): String = Files.createTempDirectory("graft-tables-spec").toString

  test("a repeated read in one session starts no Spark job and returns the same rows") {
    val s = spark.newSession()
    val (first, resolveJobs) = jobs(s)(Tables.events(s, sfDir))
    assert(resolveJobs > 0, "the first read infers the schema with a job")
    val (again, repeatJobs) = jobs(s)(Tables.events(s, sfDir))
    assert(repeatJobs == 0)
    assert(again.schema == first.schema)
    assert(again.count() == first.count())
    assert(again.exceptAll(first).isEmpty && first.exceptAll(again).isEmpty)
  }

  test("two reads in one query self-join as two relations") {
    val a = Tables.events(spark, sfDir)
    val b = Tables.events(spark, sfDir)
    def ids(df: DataFrame) = DataFrameBridge.plan(df).output.map(_.exprId).toSet
    assert(ids(a).intersect(ids(b)).isEmpty)
    def pairs(x: DataFrame, y: DataFrame) =
      x.as("a").join(y.as("b"),
        col("a.user_id") === col("b.user_id") && col("a.event_id") < col("b.event_id")).count()
    // the same join over two plain reads, each resolved on its own
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val raw = s"$sfDir/events.parquet"
    val expected = pairs(spark.read.parquet(raw), spark.read.parquet(raw))
    assert(expected > 0)
    assert(pairs(a, b) == expected)
  }

  test("overwriting a table's path with a new schema is seen by the next read") {
    val dir = tempDir()
    val path = s"$dir/region.parquet"
    spark.range(3).toDF("a").write.parquet(path)
    assert(Tables.region(spark, dir).columns.toSeq == Seq("a"))
    assert(jobs(spark)(Tables.region(spark, dir))._2 == 0)
    spark.range(5).selectExpr("id AS b", "id * 2 AS c").write.mode("overwrite").parquet(path)
    val again = Tables.region(spark, dir)
    assert(again.columns.toSeq == Seq("b", "c"))
    assert(again.count() == 5)
  }

  test("a missing path still raises PATH_NOT_FOUND, and registerAll skips it") {
    val s = spark.newSession()
    val dir = tempDir()
    val e = intercept[AnalysisException](Tables.orders(s, dir))
    assert(e.getCondition.startsWith("PATH_NOT_FOUND"), e.getMessage)
    // one table present: registerAll registers it and skips the other nine
    spark.range(2).toDF("x").write.parquet(s"$dir/orders.parquet")
    Tables.registerAll(s, dir)
    assert(s.table("orders").count() == 2)
    assert(!s.catalog.tableExists("region"))
  }

  test("a new session resolves its own entry") {
    Tables.embeddings(spark, sfDir)
    val s = spark.newSession()
    val (df, resolveJobs) = jobs(s)(Tables.embeddings(s, sfDir))
    assert(resolveJobs > 0, "the new session infers the schema itself")
    assert(df.sparkSession eq s)
    assert(jobs(s)(Tables.embeddings(s, sfDir))._2 == 0)
    assert(jobs(spark)(Tables.embeddings(spark, sfDir))._2 == 0)
  }
}
