package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.{ChatStats, EventSemantics, Similarity}

/** The dashboard operators on hand-built degenerate event sets, each
  * checked against an independent in-memory model: NULL users in both
  * cells, an empty cell, one cell against itself, one hot channel-week.
  * The generated corpora have no NULL `user_id`, so the oracle gate never
  * sees the case where a NULL user counts in a set's size (it is one row
  * of `SELECT DISTINCT user_id`) but never in an intersection or a dot
  * product (it never joins).
  */
class DashboardModelSpec extends SparkSpec {

  private val wk1 = "2024-01-01" // a Monday
  private val wk2 = "2024-01-08"

  /** One event per (user, channel, day) entry. Event ids skip the
    * multiples of 97, so no event is a gift (`event_id % 97 = 0`).
    */
  private def events(rows: Seq[(Option[Long], String, String)]): DataFrame = {
    val s = spark
    import s.implicits._
    val ids = Iterator.from(1).filter(_ % 97 != 0)
    rows.map { case (u, ch, day) => (ids.next().toLong, s"$day 12:00:00", u, ch, 50d, "{}") }
      .toDF("event_id", "ts_s", "user_id", "event_type", "value", "props")
      .select(col("event_id"), col("ts_s").cast("timestamp").as("ts"), col("user_id"),
        col("event_type"), col("value"), col("props"))
  }

  private def fl4(x: Double): Double = math.floor(x * 1e4) / 1e4
  private def fl6(x: Double): Double = math.floor(x * 1e6) / 1e6

  /** (num_common_users, pct_a_to_b, pct_b_to_a) from the distinct user
    * sets of the two cells; a NULL user is a member of a set but matches
    * nobody.
    */
  private def pairModel(rows: Seq[(Option[Long], String, String)],
                        a: (String, String), b: (String, String)): (Long, Option[Double], Option[Double]) = {
    def cell(c: (String, String)) =
      rows.filter(r => r._2 == c._1 && EventSemanticsModel.week(r._3) == c._2).map(_._1).toSet
    val (sa, sb) = (cell(a), cell(b))
    val common = sa.intersect(sb).count(_.isDefined).toLong
    def pct(size: Int) = if (size == 0) None else Some(fl4(common * 100d / size))
    (common, pct(sa.size), pct(sb.size))
  }

  private def pairOf(rows: Seq[(Option[Long], String, String)],
                     a: (String, String), b: (String, String)): (Long, Option[Double], Option[Double]) = {
    val got = ChatStats.commonUsersPair(events(rows), a._1, a._2, b._1, b._2).collect()
    assert(got.length == 1)
    val r = got(0)
    (r.getLong(0), Option(r.get(1)).map(_.asInstanceOf[Double]), Option(r.get(2)).map(_.asInstanceOf[Double]))
  }

  test("commonUsersPair: a NULL user counts in both sizes and never in the intersection") {
    val rows = Seq(
      (Some(1L), "click", wk1), (Some(2L), "click", wk1), (None, "click", wk1), (None, "click", "2024-01-02"),
      (Some(2L), "view", wk2), (Some(3L), "view", wk2), (None, "view", wk2))
    val got = pairOf(rows, ("click", wk1), ("view", wk2))
    assert(got == pairModel(rows, ("click", wk1), ("view", wk2)))
    // one common user (2) of three distinct rows on each side
    assert(got == ((1L, Some(33.3333), Some(33.3333))))
  }

  test("commonUsersPair: an empty cell gives a NULL percentage, not a division error") {
    val rows = Seq((Some(1L), "click", wk1), (Some(2L), "click", wk1), (None, "click", wk1))
    val oneEmpty = pairOf(rows, ("click", wk1), ("view", wk2))
    assert(oneEmpty == pairModel(rows, ("click", wk1), ("view", wk2)))
    assert(oneEmpty == ((0L, Some(0d), None)))
    assert(pairOf(rows, ("purchase", wk1), ("view", wk2)) == ((0L, None, None)))
  }

  test("commonUsersPair: a cell against itself is 100 %, less only by its NULL user") {
    val rows = Seq((Some(1L), "click", wk1), (Some(2L), "click", wk1), (Some(2L), "click", "2024-01-03"),
      (Some(3L), "view", wk1))
    assert(pairOf(rows, ("click", wk1), ("click", wk1)) == ((2L, Some(100d), Some(100d))))
    val withNull = rows :+ ((None, "click", wk1))
    val got = pairOf(withNull, ("click", wk1), ("click", wk1))
    assert(got == pairModel(withNull, ("click", wk1), ("click", wk1)))
    assert(got == ((2L, Some(66.6666), Some(66.6666))))
  }

  /** One hot channel-week: 400 users with 1-3 events each in click/wk1, a
    * few cooler cells beside it, NULL users in the hot cell.
    */
  private lazy val hotRows: Seq[(Option[Long], String, String)] =
    (1L to 400L).flatMap(u => Seq.fill((u % 3 + 1).toInt)((Some(u), "click", wk1))) ++
      Seq.fill(5)((None, "click", wk1)) ++
      (350L to 420L).map(u => (Some(u), "view", wk2)) ++
      (390L to 395L).flatMap(u => Seq((Some(u), "view", wk1), (Some(u), "view", wk1)))

  test("commonUsersPair: one hot channel-week against a cool one matches the model") {
    Seq((("click", wk1), ("view", wk2)), (("view", wk2), ("click", wk1)), (("click", wk1), ("view", wk1)))
      .foreach { case (a, b) => assert(pairOf(hotRows, a, b) == pairModel(hotRows, a, b), s"$a vs $b") }
  }

  test("leaderboard: one hot channel-week with tied counts matches the model") {
    val k = 10
    val got = ChatStats.leaderboard(events(hotRows), k)
      .select(col("channel"), col("week").cast("string"), col("position"), col("user_id"), col("messages"))
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2),
        Option(r.get(3)).map(_.asInstanceOf[Long]), r.getLong(4))).toSet
    // the model's tiebreak puts a NULL user first, as Spark's ascending
    // order does; here the hot cell's NULL user has the top count anyway
    val expected = hotRows.groupBy(r => (r._1, r._2, EventSemanticsModel.week(r._3))).toSeq
      .map { case ((u, ch, w), xs) => (ch, w, u, xs.size.toLong) }
      .groupBy(t => (t._1, t._2)).toSeq.flatMap { case ((ch, w), xs) =>
        xs.sortBy(t => (-t._4, t._3.getOrElse(Long.MinValue))).take(k).zipWithIndex
          .map { case (t, i) => (ch, w, (i + 1).toLong, t._3, t._4) }
      }.toSet
    assert(got == expected)
  }

  /** (week, channel_a, channel_b) -> similarity: n2 sums every rollup row
    * of the (week, channel), NULL user included; dot sums over the users
    * the two channels share, which a NULL user never is.
    */
  private def similarityModel(rows: Seq[(Option[Long], String, String)]): Map[(String, String, String), Double] = {
    val act = rows.groupBy(r => (r._1, r._2, EventSemanticsModel.week(r._3)))
      .map { case (k, xs) => k -> xs.size.toLong }
    val n2 = act.groupBy { case ((_, ch, w), _) => (w, ch) }
      .map { case (k, xs) => k -> xs.values.map(m => m * m).sum }
    val byUser = act.toSeq.collect { case ((Some(u), ch, w), m) => (u, w) -> (ch, m) }
      .groupBy(_._1).map { case (k, xs) => k -> xs.map(_._2) }
    byUser.toSeq.flatMap { case ((_, w), chs) =>
      for ((a, ma) <- chs; (b, mb) <- chs if a < b) yield (w, a, b) -> ma * mb
    }.groupBy(_._1).map { case ((w, a, b), xs) =>
      (w, a, b) -> fl6(xs.map(_._2).sum.toDouble / (math.sqrt(n2((w, a)).toDouble) * math.sqrt(n2((w, b)).toDouble)))
    }
  }

  test("channelSimilarity and channelSimilarityFrom: a NULL user adds to n2 and never to dot") {
    val rows = Seq(
      (Some(1L), "a", wk1), (Some(1L), "a", wk1), (Some(1L), "b", wk1),
      (Some(2L), "a", wk1), (Some(2L), "b", wk1), (Some(2L), "b", wk1), (Some(2L), "b", wk1),
      (Some(3L), "c", wk1)) ++ Seq.fill(5)((None, "a", wk1)) ++ Seq.fill(2)((None, "b", wk1))
    val model = similarityModel(rows)
    // dot 2*1 + 1*3 = 5; n2_a = 4 + 1 + 25, n2_b = 1 + 9 + 4
    assert(model == Map((wk1, "a", "b") -> fl6(5d / (math.sqrt(30d) * math.sqrt(14d)))))
    def sims(df: DataFrame) = df.collect()
      .map(r => (r.getDate(0).toString, r.getString(1), r.getString(2)) -> r.getDouble(3)).toMap
    val ev = events(rows)
    assert(sims(Similarity.channelSimilarity(ev)) == model)
    val w = EventSemantics.userWeeklyActivity(ev).select("user_id", "channel", "week", "messages")
    assert(sims(Similarity.channelSimilarityFrom(w)) == model)
  }

  test("channelSimilarity: one hot channel-week matches the model") {
    assert(similarityModel(hotRows).nonEmpty)
    val got = Similarity.channelSimilarity(events(hotRows)).collect()
      .map(r => (r.getDate(0).toString, r.getString(1), r.getString(2)) -> r.getDouble(3)).toMap
    assert(got == similarityModel(hotRows))
  }
}

/** The week of a `yyyy-MM-dd` day: its ISO Monday, as `date_trunc('week')`. */
private object EventSemanticsModel {
  def week(day: String): String = {
    val d = java.time.LocalDate.parse(day)
    d.minusDays((d.getDayOfWeek.getValue - 1).toLong).toString
  }
}
