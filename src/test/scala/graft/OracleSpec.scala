package graft

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

import graft.oracle.Oracle

/** The DuckDB oracle ([[graft.oracle]]) reads the engine, never the
  * reverse, and its gate-only guards hold.
  */
class OracleSpec extends SparkSpec {

  /** Engine sources whose text breaks the one-way dependency: a mention
    * of `graft.oracle` or `OracleStash`, or a `def`/`val` named `*Sql`.
    */
  private def boundaryViolations(root: Path): Seq[String] = {
    val named = """\b(?:def|val)\s+\w*(?:Sql|SQL)\b""".r
    Seq("operators", "functions", "ml", "sources", "streaming").map(root.resolve)
      .filter(Files.isDirectory(_))
      .flatMap(d => Files.walk(d).iterator().asScala.filter(_.toString.endsWith(".scala")).toSeq)
      .flatMap { f =>
        Files.readAllLines(f).asScala.zipWithIndex.collect {
          case (line, i) if line.contains("graft.oracle") || line.contains("OracleStash") ||
              named.findFirstIn(line).isDefined =>
            s"${root.relativize(f)}:${i + 1}: ${line.trim}"
        }
      }.sorted
  }

  test("no engine source names the oracle or defines a *Sql builder") {
    val root = Paths.get("src/main/scala/graft")
    assert(Files.isDirectory(root.resolve("operators")), s"run from the repo root, not ${Paths.get("").toAbsolutePath}")
    val bad = boundaryViolations(root)
    assert(bad.isEmpty, bad.mkString("\n", "\n", ""))
  }

  test("requireOkeyDomain: out-of-domain vec_ids fail loud; in-domain pass") {
    val s = spark
    import s.implicits._
    // the exact bound: 2^40 - 1 is the last packable id, 2^40 the first
    // that silently corrupts the oracle's BIGINT order key
    val ok = Seq((0L, (1L << 40) - 1, 0.5, 1L)).toDF("vec_a", "vec_b", "cosine", "nn_rank")
    Oracle.requireOkeyDomain(ok, "spec-ok") // must not throw
    val high = Seq((1L, 1L << 40, 0.5, 1L)).toDF("vec_a", "vec_b", "cosine", "nn_rank")
    val eHigh = intercept[IllegalArgumentException] {
      Oracle.requireOkeyDomain(high, "spec-high")
    }
    assert(eHigh.getMessage.contains("okey domain violated"))
    // negative ids invert the `- vec_b` tie-break order: also rejected
    val neg = Seq((-3L, 7L, 0.5, 1L)).toDF("vec_a", "vec_b", "cosine", "nn_rank")
    intercept[IllegalArgumentException] { Oracle.requireOkeyDomain(neg, "spec-neg") }
    // non-graph schemas and empty graphs are out of scope, not errors
    Oracle.requireOkeyDomain(Seq((1L, "x")).toDF("id", "t"), "spec-other")
    Oracle.requireOkeyDomain(ok.filter("vec_a < 0"), "spec-empty")
  }
}
