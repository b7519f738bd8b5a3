package graft.operators

import org.apache.spark.sql.{DataFrame, Row}

/** Driver-side guards of the operators.
  *
  * [[boundedCollect]] is always on: every driver collect that routes
  * through it declares its bound and fails loudly past it, instead of
  * pulling an unbounded relation onto the driver.
  *
  * The precondition assertions are opt-in. The increment operators
  * ([[Vectors.knnGraphIncrement]], [[Dedup.dedupMinhashIncrement]])
  * carry an insert-only contract — the delta's ids must be disjoint from
  * the stored state's — that they cannot enforce for free at deploy (a
  * distributed containment check is a real join over the stored
  * relation). Under the `graft.spark.debug.checks` system property (the
  * spec suites set it; production leaves it off) the contract is
  * asserted with one bounded semi-join count, so a pipeline bug that
  * re-ingests ids fails LOUDLY in test instead of silently emitting
  * self-pairs / duplicate edges.
  */
object Checks {

  /** Collect `df` to the driver, at most `maxRows` rows: the collect
    * reads `limit(maxRows + 1)` and fails with an error that names `site`
    * and the bound when the extra row arrives.
    */
  def boundedCollect(df: DataFrame, maxRows: Int, site: String): Array[Row] = {
    val rows = df.limit(maxRows + 1).collect()
    require(rows.length <= maxRows,
      s"$site: more than $maxRows rows reach the driver, past the bound of its collect")
    rows
  }

  /** True when precondition checks should run (JVM-wide, set once). */
  def enabled: Boolean =
    java.lang.Boolean.getBoolean("graft.spark.debug.checks")

  /** Assert `delta`'s `idCol` values never appear in `stored`. The count
    * is keyed by the (small-by-premise) delta via a semi-join, so even in
    * test the cost is one delta-sized pass, never a stored-state scan
    * result set.
    */
  def requireDisjoint(stored: DataFrame, delta: DataFrame, idCol: String,
                      op: String): Unit =
    if (enabled) {
      val dup = delta.select(idCol)
        .join(stored.select(idCol), Seq(idCol), "left_semi")
        .limit(5).collect()
      require(dup.isEmpty,
        s"$op: insert-only contract violated — delta re-ingests $idCol values " +
          s"already in the stored state (e.g. ${dup.map(_.get(0)).mkString(", ")}); " +
          "upsert by anti-joining the stored state first")
    }
}
