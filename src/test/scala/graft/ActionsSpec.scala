package graft

import org.apache.spark.sql.functions._

/** Pins the harness-action contracts behind Bench/Verify/Explain:
  * Actions.materialize must execute the FULL projection (a count() lets
  * ColumnPruning strip deterministic map expressions, so a map-only
  * operator would be "timed" as a bare scan — the r8 bench-integrity
  * finding), Actions.fmt must be locale-independent (a comma-decimal
  * default locale would corrupt every JSON artifact), and Actions.selected
  * must fail loudly on a name it does not know (a vacuous all-miss run
  * would read as a clean pass).
  */
class ActionsSpec extends SparkSpec {

  test("materialize executes pruned-away projections; count() does not (the bug class)") {
    val boom = udf { (i: Long) =>
      if (i >= 0) throw new RuntimeException("projection executed"); i
    }
    val df = spark.range(4).select(boom(col("id")).as("x"))
    // count() compiles to Aggregate[count(1)] and prunes the projection:
    // the throwing expression never runs — this is exactly why count()
    // was the wrong bench action
    assert(df.count() === 4)
    // the noop sink consumes every column, so the projection must run
    val e = intercept[Exception](Actions.materialize(df))
    def chain(t: Throwable): Seq[Throwable] =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null).take(10).toSeq
    assert(chain(e).exists(c => Option(c.getMessage).exists(_.contains("projection executed"))),
      s"materialize did not execute the projection: $e")
  }

  test("fmt is locale-independent") {
    val prev = java.util.Locale.getDefault
    try {
      java.util.Locale.setDefault(java.util.Locale.GERMANY) // comma-decimal locale
      assert(Actions.fmt(1.2345, 3) === "1.234" || Actions.fmt(1.2345, 3) === "1.235")
      assert(!Actions.fmt(1.2345, 3).contains(","))
      assert(Actions.fmt(56.779, 3) === "56.779")
      // the pre-fix formatting really does break under this locale
      assert("%.3f".format(56.779) === "56,779")
    } finally java.util.Locale.setDefault(prev)
  }

  test("selected returns exactly the named subset, trims names, fails on an unknown one") {
    assert(Actions.selected(None).keySet === SparkEntry.queries.keySet)
    assert(Actions.selected(Some("q_hours_total")).keySet === Set("q_hours_total"))
    assert(Actions.selected(Some(" q_hours_total , q_hours_avg,q_hours_max ")).keySet ===
      Set("q_hours_total", "q_hours_avg", "q_hours_max"))
    val e = intercept[IllegalArgumentException](
      Actions.selected(Some("q_hours_total, q_no_such_key")))
    assert(e.getMessage.contains("q_no_such_key"))
    assert(!e.getMessage.contains("q_hours_total"))
  }
}
