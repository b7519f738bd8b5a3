package graft

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.datasources.BucketingUtils
import org.apache.spark.sql.functions._

import graft.operators.{EventSemantics, Layout}

/** Pins the bucketing co-location claim (SURVEY §4 / SCALING.md): a join
  * between two tables bucketed on the join key must be exchange-free,
  * while the same join on unbucketed relations shuffles both sides. And
  * the write's file layout: one file per bucket for a small table, a
  * bucket split across writer tasks when it outgrows AQE's advisory size.
  */
class LayoutSpec extends SparkSpec {

  /** Runs `body` under `confs`, then restores each key's previous value
    * (or unsets it), so the shared session leaves as it came.
    */
  private def withConf[T](confs: (String, String)*)(body: => T): T = {
    val prev = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  private val noBroadcast = "spark.sql.autoBroadcastJoinThreshold" -> "-1"
  // deploy conf (SCALING.md): accept co-partitioning on a SUBSET of the
  // join keys — both sides are bucketed on user_id, the join adds week
  private val subsetCoPartition = "spark.sql.requireAllClusterKeysForCoPartition" -> "false"

  test("commonUsersMatrix over a bucketed MV table avoids the self-join shuffle") {
    val ucw = EventSemantics.userWeeklyActivity(Tables.events(spark, sfDir))
      .select("user_id", "channel", "week")
    Layout.writeBucketed(ucw, "ucw_mv", "user_id", 4)
    try withConf(noBroadcast, subsetCoPartition) {
      val viaBucketed = graft.operators.ChatStats.commonUsersMatrixFrom(spark.table("ucw_mv"))
      val plan = viaBucketed.queryExecution.executedPlan.toString
      // the pair self-join on (user_id, week) must co-partition from the
      // user_id buckets; only the post-join channel-pair aggregation and
      // the sizes-side aggregation may shuffle
      val joinInputShuffles = plan.linesIterator
        .count(l => l.contains("Exchange hashpartitioning") && l.contains("user_id"))
      assert(joinInputShuffles == 0,
        s"bucketed matrix self-join still shuffles its inputs:\n$plan")
      // results are identical to the standard operator
      val viaEvents = graft.operators.ChatStats.commonUsersMatrix(Tables.events(spark, sfDir))
      assert(viaBucketed.exceptAll(viaEvents).count() == 0)
      assert(viaEvents.exceptAll(viaBucketed).count() == 0)
    } finally {
      spark.sql("DROP TABLE IF EXISTS ucw_mv")
      spark.catalog.clearCache()
    }
  }

  test("channelSimilarity over a bucketed MV table avoids the self-join shuffle") {
    val w = EventSemantics.userWeeklyActivity(Tables.events(spark, sfDir))
      .select("user_id", "channel", "week", "messages")
    Layout.writeBucketed(w, "ucw_sim_mv", "user_id", 4)
    try withConf(noBroadcast, subsetCoPartition) {
      val viaBucketed = graft.operators.Similarity.channelSimilarityFrom(spark.table("ucw_sim_mv"))
      val plan = viaBucketed.queryExecution.executedPlan.toString
      val joinInputShuffles = plan.linesIterator
        .count(l => l.contains("Exchange hashpartitioning") && l.contains("user_id"))
      assert(joinInputShuffles == 0,
        s"bucketed similarity self-join still shuffles its inputs:\n$plan")
      val viaEvents = graft.operators.Similarity.channelSimilarity(Tables.events(spark, sfDir))
      assert(viaBucketed.exceptAll(viaEvents).count() == 0)
      assert(viaEvents.exceptAll(viaBucketed).count() == 0)
    } finally {
      spark.sql("DROP TABLE IF EXISTS ucw_sim_mv")
      spark.catalog.clearCache()
    }
  }

  test("resetMonth drops exactly one month's partition, dry-run touches nothing") {
    val root = "/tmp/graft-test-reset-month"
    val orders = Tables.orders(spark, sfDir)
    Layout.writeMonthPartitioned(orders, root, "o_orderdate")
    val total = spark.read.parquet(root).count()
    val target = "1996-03-01"
    val inMonth = orders
      .filter(to_date(date_trunc("month", col("o_orderdate"))) === to_date(lit(target)))
      .count()
    assert(inMonth > 0, "test month must be populated")
    // dry run: reports the count, deletes nothing
    assert(Layout.resetMonth(spark, root, target, dryRun = true) == inMonth)
    assert(spark.read.parquet(root).count() == total)
    // real run: that month's rows are gone, every other row intact
    assert(Layout.resetMonth(spark, root, target) == inMonth)
    val after = spark.read.parquet(root)
    assert(after.count() == total - inMonth)
    assert(after.filter(col("month") === to_date(lit(target))).count() == 0)
  }

  test("bucketed-by-key join is exchange-free; unbucketed join shuffles") {
    val act = EventSemantics.userWeeklyActivity(Tables.events(spark, sfDir))
    Layout.writeBucketed(act, "act_bucketed_a", "user_id", 4)
    Layout.writeBucketed(act.select(col("user_id"), col("messages").as("m2")),
      "act_bucketed_b", "user_id", 4)

    // disable broadcast so the join strategy decision is about partitioning
    try withConf(noBroadcast) {
      val bucketed = spark.table("act_bucketed_a")
        .join(spark.table("act_bucketed_b"), "user_id")
      val bucketedPlan = bucketed.queryExecution.executedPlan.toString
      assert(!bucketedPlan.contains("Exchange hashpartitioning"),
        s"bucketed join should not shuffle:\n$bucketedPlan")
      assert(bucketed.count() > 0)

      val plain = act.as("a").join(act.as("b"), "user_id")
      val plainPlan = plain.queryExecution.executedPlan.toString
      assert(plainPlan.contains("Exchange hashpartitioning"),
        "control: the unbucketed join is expected to shuffle")
    } finally {
      spark.sql("DROP TABLE IF EXISTS act_bucketed_a")
      spark.sql("DROP TABLE IF EXISTS act_bucketed_b")
    }
  }

  /** (bucket id from the file name, file) of every file of `table`. */
  private def bucketFiles(table: String): Seq[(Int, String)] =
    spark.table(table).inputFiles.toSeq.map(f => BucketingUtils.getBucketId(new Path(f).getName).get -> f)

  private def bucketOf(key: String, buckets: Int) = pmod(hash(col(key)), lit(buckets))

  private def writeAndRead[T](df: DataFrame, table: String, buckets: Int)(check: Seq[(Int, String)] => T): T = {
    Layout.writeBucketed(df, table, "k", buckets)
    try check(bucketFiles(table)) finally spark.sql(s"DROP TABLE IF EXISTS $table")
  }

  test("writeBucketed writes one file per non-empty bucket, holding only that bucket's keys") {
    // four input partitions: written in its own partitioning, each writer
    // task would open a file per bucket (up to 4 × 8)
    val df = spark.range(0, 2000, 1, 4).select((col("id") % 37).as("k"), col("id").as("v"))
    writeAndRead(df, "bucket_files", 8) { files =>
      val ids = files.map(_._1)
      val nonEmpty = df.select(bucketOf("k", 8)).distinct().count()
      assert(ids.distinct.size == ids.size, s"a bucket in more than one file: ${files.mkString("\n")}")
      assert(ids.size == nonEmpty)
      for ((b, f) <- files)
        assert(spark.read.parquet(f).filter(bucketOf("k", 8) =!= b).isEmpty, s"$f holds another bucket's keys")
      assert(spark.table("bucket_files").count() == 2000)
    }
  }

  test("writeBucketed splits a bucket larger than the advisory partition size across writer tasks") {
    val df = spark.range(0, 100000, 1, 8).select((col("id") % 2).as("k"), col("id").as("v"))
    withConf("spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "4k") {
      writeAndRead(df, "bucket_split", 4) { files =>
        val perBucket = files.groupBy(_._1).map { case (b, fs) => b -> fs.size }
        assert(perBucket.values.exists(_ > 1), s"no bucket was split across writer tasks: $perBucket")
        for ((b, f) <- files)
          assert(spark.read.parquet(f).filter(bucketOf("k", 4) =!= b).isEmpty, s"$f holds another bucket's keys")
        assert(spark.table("bucket_split").count() == 100000)
      }
    }
  }
}
