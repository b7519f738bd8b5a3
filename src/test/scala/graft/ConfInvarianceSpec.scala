package graft

import java.security.MessageDigest

import org.apache.spark.sql.SparkSession

/** A result must not depend on session conf. Bench, Verify and the specs
  * share one conf ([[Actions.session]]); this spec is the net under that:
  * one registered key per family runs on the spec session and again on
  * new sessions with broadcast joins off, with 1 shuffle partition and
  * with 64, and every variant's sorted-row hash must equal the spec
  * session's. A plan whose rows change with the join strategy or the
  * partition count fails here rather than at a deploy's conf.
  */
class ConfInvarianceSpec extends SparkSpec {

  private val keys = Seq("q_clustering_communities", "d_dedup_minhash", "v_knn_join",
    "v_knn_join_incremental_wh", "p_decontaminate", "t_membership_rank", "m_multimodal_meta",
    "s_sessionize_gap", "src_chatlog_rollup")

  private val variants = Seq(
    "broadcast joins off" -> ("spark.sql.autoBroadcastJoinThreshold" -> "-1"),
    "1 shuffle partition" -> ("spark.sql.shuffle.partitions" -> "1"),
    "64 shuffle partitions" -> ("spark.sql.shuffle.partitions" -> "64"))

  /** (row count, MD5 of the sorted rows) of one key's output. */
  private def rowHash(session: SparkSession, key: String): (Int, String) = {
    Actions.reset(session)
    try {
      val rows = SparkEntry.queries(key)(session, sfDir).collect().map(_.toString).sorted
      val md5 = MessageDigest.getInstance("MD5").digest(rows.mkString("\n").getBytes("UTF-8"))
      (rows.length, md5.map("%02x".format(_)).mkString)
    } finally Actions.reset(session)
  }

  test("the keys are registered and cover every family") {
    assert(keys.forall(SparkEntry.queries.contains))
    def family(key: String) = key.takeWhile(_ != '_')
    assert(keys.map(family).toSet === SparkEntry.queries.keySet.map(family))
  }

  for (key <- keys) {
    test(s"$key: same rows with broadcast joins off and with 1 or 64 shuffle partitions") {
      val base = rowHash(spark, key)
      assert(base._1 > 0, s"$key returned no rows; an invariance check over nothing is vacuous")
      for ((label, (k, v)) <- variants) {
        val s = spark.newSession()
        s.conf.set(k, v)
        assert(rowHash(s, key) === base, s"$key under $label")
      }
    }
  }
}
