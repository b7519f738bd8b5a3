package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Scale-soak dataset generator: replicates the driver's sf0.1 testdata
  * `factor`x with FK-preserving key shifts, producing an sf1-class corpus
  * for the soak run (VERDICT r05 item 6). NOT a gate input — the driver's
  * CORRECTNESS gate always runs on `/root/testdata`; this exists so
  * Verify+Bench (and the DuckDB checker) can be exercised at 10x the bench
  * SF to measure growth curves on the skew-traded queries.
  *
  * Replica semantics (replica 0 is the original rows, untouched):
  *  - events: new ids and a 10x user population; channels (= event_type)
  *    stay fixed — matching the reference's shape (few channels, many
  *    users, a growing fact table).
  *  - documents: shifted doc_id; replica texts get a per-replica suffix on
  *    EVERY word (`foo bar` -> `foor3 barr3`) so cross-replica texts share
  *    NO word n-gram — a mere document prefix only shifts word positions,
  *    leaving almost all trigrams identical, which hands every doc
  *    factor-1 near-duplicate twins and grows the dedup outputs
  *    quadratically in factor by construction, not by plan. The per-word
  *    transform is position-uniform, so within-replica duplicate/near-dup
  *    structure (planted clusters, slice overlaps) is preserved exactly.
  *    n_chars is recomputed to stay consistent with the perturbed text.
  *  - embeddings: shifted vec_id; replica vectors are cyclically shifted
  *    by i components (norm- and distribution-preserving, but
  *    near-orthogonal to the original for the synthetic vectors), so ANN
  *    and near-dup structure scales instead of collapsing into
  *    cross-replica duplicate clusters.
  *  - orders/lineitem/customer: orderkey/custkey shifted in lockstep so
  *    the highlight-query joins keep exactly one match per FK.
  *  - region/nation/supplier/part: dimension tables, copied as-is.
  *
  * Output layout matches the testdata contract: one single-file
  * `{table}.parquet` per table (coalesce(1) + rename), so DuckDB reads
  * `'{dir}/{t}.parquet'` identically to the driver's gate.
  */
object SoakGen {
  // Key-shift stride per replica. Must clear Fixtures.plantedDocs's
  // internal NEAR_OFF/EXACT_OFF (+1e7/+2e7) id shifts: a 1e7 stride makes
  // replica-1 doc_ids collide with the planted copies of replica 0, which
  // duplicates doc_id keys downstream (surfaced as a divide-by-zero in the
  // Jaccard denominator at the first soak run).
  val stride = 1_000_000_000L

  private def replicate(df: DataFrame, factor: Int)(shift: (DataFrame, Int) => DataFrame): DataFrame =
    (0 until factor).map(i => shift(df, i)).reduce(_.unionAll(_))

  def main(args: Array[String]): Unit = {
    val src = if (args.length > 0) args(0) else "/root/testdata/sf0.1"
    val out = if (args.length > 1) args(1) else "target/soak/sf1"
    val factor = if (args.length > 2) args(2).toInt else 10
    val scaleLabels = args.length > 3 && args(3) == "scaleLabels"
    val spark = Actions.session(Actions.cpus())
    generate(spark, src, out, factor, scaleLabels)
    spark.stop()
  }

  /** `scaleLabels`: give each embeddings replica a DISJOINT label space
    * (label + i * |labels|). The default (false) keeps labels fixed, so
    * the label-blocked operators (v_knn_join/_mp, d_semdedup,
    * d_embed_neardup) see 10x blocks and pay ~quadratic pairs — the soak's
    * designed stress case. Scaled labels model the deploy reality instead:
    * the block key is an IVF cell / LSH bucket whose cardinality grows
    * with the corpus, so block SIZE stays flat and those operators scale
    * linearly. Both runs are recorded in `git show d1c0210:SCALING.md`.
    */
  def generate(spark: SparkSession, src: String, out: String, factor: Int,
               scaleLabels: Boolean = false): Unit = {
    def write(name: String, df: DataFrame): Unit = {
      val tmp = s"$out/_tmp_$name"
      df.coalesce(1).write.mode("overwrite").parquet(tmp)
      val fs = org.apache.hadoop.fs.FileSystem.get(
        new java.net.URI(tmp), spark.sparkContext.hadoopConfiguration)
      val part = fs.globStatus(new org.apache.hadoop.fs.Path(s"$tmp/part-*.parquet"))(0).getPath
      val dst = new org.apache.hadoop.fs.Path(s"$out/$name.parquet")
      fs.delete(dst, false)
      fs.rename(part, dst)
      fs.delete(new org.apache.hadoop.fs.Path(tmp), true)
      println(s"[soakgen] $name: ${spark.read.parquet(dst.toString).count()} rows")
    }

    // fact tables: replicated with key shifts
    write("events", replicate(Tables.events(spark, src), factor) { (df, i) =>
      df.withColumn("event_id", col("event_id") + lit(i * 1000L * stride))
        .withColumn("user_id", col("user_id") + lit(i * 100L * stride))
    })
    write("documents", replicate(Tables.documents(spark, src), factor) { (df, i) =>
      // every word gets the replica tag, so no word n-gram crosses replicas
      val t = if (i == 0) col("text")
              else regexp_replace(col("text"), "(\\S+)", s"$$1r$i")
      df.withColumn("doc_id", col("doc_id") + lit(i * stride))
        .withColumn("text", t)
        .withColumn("n_chars", length(col("text")).cast("long"))
    })
    // lazy: default-mode generate (scaleLabels=false) must not pay an
    // extra aggregation job — or NPE on an empty/all-null label column
    lazy val nLabels: Long = {
      val m = Tables.embeddings(spark, src).agg(max(col("label"))).head().getAs[Integer](0)
      require(m != null,
        s"scaleLabels requires at least one non-null label in $src/embeddings.parquet")
      m.toLong + 1L
    }
    write("embeddings", replicate(Tables.embeddings(spark, src), factor) { (df, i) =>
      val dim = 64
      val rot = (0 until dim).map(j => col("embedding").getItem((j + i) % dim))
      val lbl = if (scaleLabels) (col("label") + lit(i * nLabels)).cast("int") else col("label")
      df.withColumn("vec_id", col("vec_id") + lit(i * stride))
        .withColumn("embedding", array(rot: _*))
        .withColumn("label", lbl)
    })
    write("customer", replicate(spark.read.parquet(s"$src/customer.parquet"), factor) { (df, i) =>
      // c_name IS channel identity (videos joins channel = c_name): replica
      // copies must be NEW channels, not 10 custkeys sharing one name —
      // duplicate names silently merge in name-keyed rollups and split in
      // custkey-keyed ones (q_monthly_hours filters c_custkey=1 while its
      // oracle joins by name; the second soak run failed exactly there)
      val nm = if (i == 0) col("c_name") else concat(col("c_name"), lit(s"_r$i"))
      df.withColumn("c_custkey", col("c_custkey") + lit(i * stride))
        .withColumn("c_name", nm)
    })
    write("orders", replicate(spark.read.parquet(s"$src/orders.parquet"), factor) { (df, i) =>
      df.withColumn("o_orderkey", col("o_orderkey") + lit(i * stride))
        .withColumn("o_custkey", col("o_custkey") + lit(i * stride))
    })
    write("lineitem", replicate(spark.read.parquet(s"$src/lineitem.parquet"), factor) { (df, i) =>
      df.withColumn("l_orderkey", col("l_orderkey") + lit(i * stride))
    })
    // dimensions: copied as-is
    Seq("region", "nation", "supplier", "part").foreach { t =>
      write(t, spark.read.parquet(s"$src/$t.parquet"))
    }
  }
}
