package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    // SPARK_GRAFT_ONLY=q1,q2 restricts the dump AND the oracle json
    // (iteration aid — check.py then compares just those; the driver never
    // sets it, so the recorded gate always covers the full suite)
    val queries = Actions.selected(sys.env.get("SPARK_GRAFT_ONLY"))
    val spark = Actions.session(Actions.cpus())
    new java.io.File(outDir).mkdirs()
    val failed = scala.collection.mutable.ListBuffer.empty[String]
    queries.foreach { case (name, fn) =>
      try {
        fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
        // graph-family dumps: assert the okey-packing id domain on the
        // rows just written (one bounded aggregate over the dump file) —
        // the oracle's BIGINT key would MIS-RANK, not error, past 2^40
        if (name.startsWith("v_knn_join"))
          graft.operators.Checks.requireOkeyDomain(
            spark.read.parquet(s"$outDir/$name"), name)
      } catch { case e: Throwable =>
        failed += name
        System.err.println(s"[verify] $name FAILED: ${e.getMessage}")
      }
      Actions.reset(spark)
    }
    // oracleSql must be materialized AFTER the loop: the trained-model
    // oracles (Vectors.stashedSql) only exist once their query has run in
    // this JVM — binding before the loop dumps an empty stash.
    val oracles = SparkEntry.oracleSql.filter(kv => queries.contains(kv._1))
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = oracles
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
    // A crashed query must be LOUD: an unmissable summary line and a
    // non-zero exit, so a reader/data break can never again produce a
    // plausible-looking artifact with rows silently missing.
    if (failed.nonEmpty) {
      System.err.println(s"[verify] ${failed.size}/${queries.size} queries FAILED: ${failed.mkString(", ")}")
      sys.exit(1)
    }
  }
}
