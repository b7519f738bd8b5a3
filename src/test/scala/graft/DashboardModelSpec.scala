package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.{ChatStats, EventSemantics, Similarity}

/** The dashboard and pair operators on hand-built degenerate event sets,
  * each checked against an independent in-memory model: NULL users in
  * both cells, an empty cell, one cell against itself, one hot
  * channel-week. The generated corpora have no NULL `user_id`, so the
  * oracle gate never sees the case where a NULL user counts in a set's
  * size or a norm (it is one row of `SELECT DISTINCT user_id`) but never
  * in an intersection, an exclusive count or a dot product (it never
  * joins). Where a `*From` table seam exists, the events path and the
  * seam run over the same rows.
  */
class DashboardModelSpec extends SparkSpec {

  private val wk1 = "2024-01-01" // a Monday
  private val wk2 = "2024-01-08"

  /** One event per (user, channel, day) entry; a NULL day is a NULL `ts`.
    * Event ids skip the multiples of 97, so no event is a gift
    * (`event_id % 97 = 0`).
    */
  private def events(rows: Seq[(Option[Long], String, String)]): DataFrame = {
    val s = spark
    import s.implicits._
    val ids = Iterator.from(1).filter(_ % 97 != 0)
    rows.map { case (u, ch, day) => (ids.next().toLong, Option(day).map(d => s"$d 12:00:00").orNull, u, ch, 50d, "{}") }
      .toDF("event_id", "ts_s", "user_id", "event_type", "value", "props")
      .select(col("event_id"), col("ts_s").cast("timestamp").as("ts"), col("user_id"),
        col("event_type"), col("value"), col("props"))
  }

  private type Rows = Seq[(Option[Long], String, String)]

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

  /** NULL users beside real ones in two weeks, a user with events on two
    * days of one cell, and a cell whose only user is NULL.
    */
  private val nullRows: Rows = Seq(
    (Some(1L), "click", wk1), (Some(2L), "click", wk1), (None, "click", wk1), (Some(1L), "click", "2024-01-03"),
    (Some(1L), "view", wk1), (None, "view", wk1), (Some(3L), "view", wk1),
    (Some(2L), "view", wk2), (None, "view", wk2), (Some(2L), "click", wk2),
    (None, "error", wk1))

  /** The distinct (user, channel, week) cells of the rows. */
  private def cells(rows: Rows): Seq[(Option[Long], String, String)] =
    rows.map(r => (r._1, r._2, EventSemanticsModel.week(r._3))).distinct

  /** (week, channel_a, channel_b) -> (common, pct_a_to_b) over distinct
    * (user, channel, week) cells: every cell row counts in its size, a
    * NULL user in no intersection.
    */
  private def matrixModel(cs: Seq[(Option[Long], String, String)]): Map[(String, String, String), (Long, Double)] = {
    val size = cs.groupBy(c => (c._3, c._2)).map { case (k, xs) => k -> xs.size }
    cs.collect { case (Some(u), ch, w) => (u, w) -> ch }.groupBy(_._1).toSeq
      .flatMap { case ((_, w), xs) => for ((_, a) <- xs; (_, b) <- xs) yield (w, a, b) }
      .groupBy(identity).map { case (k @ (w, a, _), xs) =>
        k -> ((xs.size.toLong, fl4(xs.size * 100d / size((w, a)))))
      }
  }

  private def matrixOf(df: DataFrame): Map[(String, String, String), (Long, Double)] =
    df.collect().map(r => (r.getDate(0).toString, r.getString(1), r.getString(2)) -> ((r.getLong(3), r.getDouble(4)))).toMap

  test("commonUsersMatrix and commonUsersMatrixFrom: a NULL user counts in the sizes, never in an intersection") {
    val model = matrixModel(cells(nullRows))
    // click/wk1 = {1, 2, NULL} and view/wk1 = {1, 3, NULL}: one common user of three
    assert(model((wk1, "click", "view")) == ((1L, 33.3333)))
    assert(model((wk1, "click", "click")) == ((2L, 66.6666)))
    // the cell whose only user is NULL has a size but no pair
    assert(!model.keys.exists(k => k._2 == "error" || k._3 == "error"))
    Seq(nullRows, hotRows).foreach { rows =>
      val ev = events(rows)
      val ucw = EventSemantics.userWeeklyActivity(ev).select("user_id", "channel", "week")
      assert(matrixOf(ChatStats.commonUsersMatrix(ev)) == matrixModel(cells(rows)))
      assert(matrixOf(ChatStats.commonUsersMatrixFrom(ucw)) == matrixModel(cells(rows)))
    }
  }

  test("commonMembersMatrix: only weekly members pair, and a NULL user is never a member") {
    // rank = (user + day of month) % 8 - 1 per event and the weekly max
    // decides, so user 7 on the 1st is no member; a NULL rank never is
    def member(u: Long, day: String) = (u + java.time.LocalDate.parse(day).getDayOfMonth) % 8 != 0
    val rows = nullRows ++ Seq((Some(7L), "click", wk1), (Some(7L), "view", wk1), (Some(15L), "view", wk1))
    Seq(rows, hotRows).foreach { rs =>
      val members = rs.groupBy(r => (r._1, r._2, EventSemanticsModel.week(r._3))).toSeq.collect {
        case (k @ (Some(u), _, _), xs) if xs.exists(r => member(u, r._3)) => k
      }
      val got = ChatStats.commonMembersMatrix(events(rs))
      assert(got.columns.toSeq == Seq("week", "channel_a", "channel_b", "common_members", "pct_a_to_b"))
      assert(matrixOf(got) == matrixModel(members))
    }
  }

  test("exclusiveUsers: a NULL user counts nowhere, and a cell of only NULL users has no row") {
    def model(rows: Rows): Map[(String, String), (Long, Long, Double)] = {
      val cs = cells(rows).collect { case (Some(u), ch, w) => (u, ch, w) }
      val span = cs.groupBy(c => (c._1, c._3)).map { case (k, xs) => k -> xs.size }
      cs.groupBy(c => (c._2, c._3)).map { case (k, xs) =>
        val excl = xs.count(c => span((c._1, c._3)) == 1).toLong
        k -> ((xs.size.toLong, excl, fl4(excl * 100d / xs.size)))
      }
    }
    // click/wk1 = {1, 2}: user 1 is also in view/wk1, user 2 only here
    assert(model(nullRows)(("click", wk1)) == ((2L, 1L, 50d)))
    assert(!model(nullRows).contains(("error", wk1)))
    Seq(nullRows, hotRows).foreach { rows =>
      val got = ChatStats.exclusiveUsers(events(rows)).collect()
        .map(r => (r.getString(0), r.getDate(1).toString) -> ((r.getLong(2), r.getLong(3), r.getDouble(4)))).toMap
      assert(got == model(rows))
    }
  }

  test("a NULL week: the matrices and exclusiveUsers drop it, as the oracle's joins on week do") {
    // users 1 and 2 each have NULL-ts events beside their week-1 ones
    val rows: Rows = Seq(
      (Some(1L), "click", wk1), (Some(1L), "view", wk1), (Some(1L), "view", null),
      (Some(2L), "click", null), (Some(2L), "view", null), (Some(2L), "click", wk1))
    // click/wk1 = {1, 2}, view/wk1 = {1}; the NULL-week cells pair with nothing
    val matrix = Map(
      (wk1, "click", "click") -> ((2L, 100d)), (wk1, "click", "view") -> ((1L, 50d)),
      (wk1, "view", "click") -> ((1L, 100d)), (wk1, "view", "view") -> ((1L, 100d)))
    val ev = events(rows)
    assert(matrixOf(ChatStats.commonUsersMatrix(ev)) == matrix)
    assert(matrixOf(ChatStats.commonUsersMatrixFrom(
      EventSemantics.userWeeklyActivity(ev).select("user_id", "channel", "week"))) == matrix)
    // user 3's NULL channel is a cell of its own; the oracle's span join
    // keeps it and drops only the NULL weeks
    val excl = ChatStats.exclusiveUsers(events(rows ++ Seq((Some(3L), null, wk1)))).collect()
      .map(r => (Option(r.getString(0)), Option(r.getDate(1)).map(_.toString)) -> ((r.getLong(2), r.getLong(3), r.getDouble(4))))
    assert(excl.toMap == Map(
      (Some("click"), Some(wk1)) -> ((2L, 1L, 50d)), (Some("view"), Some(wk1)) -> ((1L, 0L, 0d)),
      (None, Some(wk1)) -> ((1L, 1L, 100d))))
  }

  test("commonUsersMatrix and commonUsersMatrixFrom: a NULL channel_a drops and a NULL channel_b stays, as in the oracle") {
    // users 1-3 and a NULL user also act in a NULL channel; the oracle's
    // sizes join on channel_a drops that channel's own rows
    val rows: Rows = Seq((Some(1L), "click", wk1), (Some(1L), null, wk1), (Some(2L), null, wk1),
      (Some(2L), "click", wk1), (Some(3L), "view", wk1), (Some(3L), null, wk1), (None, "click", wk1), (None, null, wk1))
    val matrix = Map(
      (wk1, "click", "click") -> ((2L, 66.6666)), (wk1, "click", null) -> ((2L, 66.6666)),
      (wk1, "view", "view") -> ((1L, 100d)), (wk1, "view", null) -> ((1L, 100d)))
    val ev = events(rows)
    assert(matrixOf(ChatStats.commonUsersMatrix(ev)) == matrix)
    assert(matrixOf(ChatStats.commonUsersMatrixFrom(
      EventSemantics.userWeeklyActivity(ev).select("user_id", "channel", "week"))) == matrix)
  }

  test("userChanges: a NULL channel or week is gained and lost in separate rows, as in the oracle") {
    // user 3 in a NULL channel two weeks running, user 4 at a NULL ts,
    // user 5 in click two weeks running
    val rows: Rows = Seq((Some(3L), null, wk1), (Some(3L), null, wk2), (Some(4L), "click", null),
      (Some(5L), "click", wk1), (Some(5L), "click", wk2))
    val got = ChatStats.userChanges(events(rows), 1).collect().toSeq
      .map(r => (Option(r.getString(0)), Option(r.getDate(1)).map(_.toString), r.getLong(2), r.getLong(3), r.getLong(4)))
    // NOT EXISTS never matches a NULL channel or week, and the FULL OUTER
    // JOIN of gained and lost never matches them either
    val wk3 = "2024-01-15"
    assert(got.sortBy(_.toString) == Seq(
      (None, Some(wk1), 1L, 0L, 1L), (None, Some(wk2), 1L, 0L, 1L), (None, Some(wk2), 0L, 1L, -1L),
      (None, Some(wk3), 0L, 1L, -1L), (Some("click"), None, 1L, 0L, 1L), (Some("click"), None, 0L, 1L, -1L),
      (Some("click"), Some(wk1), 1L, 0L, 1L), (Some("click"), Some(wk3), 0L, 1L, -1L)).sortBy(_.toString))
  }

  /** (channel, week) -> (users_gained, users_lost) as the oracle's NOT
    * EXISTS counts them: a NULL user matches no row of the other week.
    */
  private def changesModel(rows: Rows, threshold: Int): Map[(String, String), (Long, Long)] = {
    val q = rows.groupBy(r => (r._1, r._2, EventSemanticsModel.week(r._3)))
      .collect { case (k, xs) if xs.size >= threshold => k }.toSet
    val prev = q.map { case (u, ch, w) => (u, ch, java.time.LocalDate.parse(w).plusDays(7).toString) }
    def unmatched(s: Set[(Option[Long], String, String)], other: Set[(Option[Long], String, String)]) =
      s.toSeq.filterNot(c => c._1.isDefined && other(c)).groupBy(c => (c._2, c._3))
        .map { case (k, xs) => k -> xs.size.toLong }
    val (gained, lost) = (unmatched(q, prev), unmatched(prev, q))
    (gained.keySet ++ lost.keySet).map(k => k -> ((gained.getOrElse(k, 0L), lost.getOrElse(k, 0L)))).toMap
  }

  private def changesOf(rows: Rows, threshold: Int): Map[(String, String), (Long, Long)] =
    ChatStats.userChanges(events(rows), threshold).collect().map { r =>
      assert(r.getLong(4) == r.getLong(2) - r.getLong(3))
      (r.getString(0), r.getDate(1).toString) -> ((r.getLong(2), r.getLong(3)))
    }.toMap

  test("userChanges: gains and losses match the model, NULL user and hot channel-week included") {
    // user 1 stays active in click, user 2 drops out, user 4 stays under
    // the threshold, the NULL user qualifies in one week only
    val rows = Seq(
      (Some(1L), "click", wk1), (Some(1L), "click", wk1), (Some(1L), "click", wk2), (Some(1L), "click", wk2),
      (Some(2L), "click", wk1), (Some(2L), "click", "2024-01-02"), (Some(4L), "click", wk2),
      (None, "view", wk1), (None, "view", wk1), (Some(2L), "view", wk2), (Some(2L), "view", wk2))
    assert(changesModel(rows, 2) == Map(
      ("click", wk1) -> ((2L, 0L)), ("click", wk2) -> ((0L, 1L)), ("click", "2024-01-15") -> ((0L, 1L)),
      ("view", wk1) -> ((1L, 0L)), ("view", wk2) -> ((1L, 1L)), ("view", "2024-01-15") -> ((0L, 1L))))
    assert(changesOf(rows, 2) == changesModel(rows, 2))
    assert(changesOf(hotRows, 2) == changesModel(hotRows, 2))
  }

  test("userChanges: a NULL user active in two consecutive weeks is gained and lost, as in the oracle") {
    val rows = Seq((None, "click", wk1), (None, "click", wk2), (Some(1L), "click", wk1), (Some(1L), "click", wk2))
    // NOT EXISTS never matches the NULL user: gained in both weeks, lost
    // in the second (from the first) and the third (from the second)
    assert(changesModel(rows, 1) == Map(
      ("click", wk1) -> ((2L, 0L)), ("click", wk2) -> ((1L, 1L)), ("click", "2024-01-15") -> ((0L, 2L))))
    assert(changesOf(rows, 1) == changesModel(rows, 1))
  }

  /** recommend_channels over full-period weights: `n2` sums every user's
    * weight, NULL included; a dot product sums the non-NULL users two
    * channels share.
    */
  private def recommendModel(rows: Rows, userId: Long, exclThreshold: Long, k: Int): Seq[(String, Double)] = {
    val w = rows.groupBy(r => (r._1, r._2)).map { case (key, xs) => key -> xs.size.toLong }
    val n2 = w.groupBy(_._1._2).map { case (ch, xs) => ch -> xs.values.map(x => x * x).sum }
    val dot = w.toSeq.collect { case ((Some(u), ch), x) => u -> ((ch, x)) }.groupBy(_._1).values
      .flatMap(chs => for ((_, (a, xa)) <- chs; (_, (b, xb)) <- chs) yield (a, b) -> xa * xb)
      .groupBy(_._1).map { case (key, xs) => key -> xs.map(_._2).sum }
    val mine = w.collect { case ((Some(u), ch), x) if u == userId && x > 0 => ch -> x }
    dot.toSeq.collect { case ((a, b), d) if mine.contains(b) && !mine.get(a).exists(_ > exclThreshold) =>
      a -> d.toDouble / (math.sqrt(n2(a).toDouble) * math.sqrt(n2(b).toDouble))
    }.groupBy(_._1).map { case (a, xs) => a -> xs.map(_._2).sum }.toSeq
      .sortBy(t => (-t._2, t._1)).take(k)
      .map { case (a, raw) => a -> fl4(StrictMath.log(1 + raw / mine.size * 100) / StrictMath.log(101) * 100) }
  }

  /** Scores are floored sums of doubles, whose order differs between the
    * engine and the model, so they match within one floor step.
    */
  private def assertRanked(got: Seq[(String, Double)], expected: Seq[(String, Double)]): Unit = {
    assert(got.map(_._1) == expected.map(_._1))
    got.zip(expected).foreach { case (g, e) => assert(math.abs(g._2 - e._2) <= 1.01e-4, s"$g vs $e") }
  }

  test("recommend and recommendFrom: a NULL user adds to the norms and never to a dot product") {
    // user 3 is in a (5 messages, over the threshold) and b; the NULL
    // user shares a, c and f with nobody
    val rows: Rows = Seq.fill(5)((Some(3L), "a", wk1)) ++ Seq.fill(2)((Some(3L), "b", wk2)) ++
      Seq((Some(1L), "a", wk1), (Some(1L), "c", wk1), (Some(1L), "c", wk2), (Some(1L), "d", wk1)) ++
      Seq.fill(3)((Some(2L), "b", wk1)) ++ Seq((Some(2L), "c", wk1), (Some(2L), "e", wk2), (Some(2L), "e", wk2)) ++
      Seq((Some(4L), "d", wk1), (Some(4L), "d", wk2), (Some(4L), "e", wk1), (Some(4L), "b", wk1)) ++
      Seq.fill(4)((None, "c", wk1)) ++ Seq.fill(2)((None, "a", wk2)) ++ Seq.fill(3)((None, "f", wk1)) ++
      Seq((Some(5L), "f", wk1), (Some(5L), "c", wk2))
    val ev = events(rows)
    val w = EventSemantics.userWeeklyActivity(ev).groupBy("user_id", "channel").agg(sum("messages").as("weight"))
    def ranked(df: DataFrame) = df.collect().map(r => r.getString(0) -> r.getDouble(1)).toSeq
    Seq((3L, 3L), (3L, 10L), (2L, 1L), (99L, 3L)).foreach { case (user, thr) =>
      val expected = recommendModel(rows, user, thr, 10)
      assertRanked(ranked(Similarity.recommend(ev, user, thr)), expected)
      assertRanked(ranked(Similarity.recommendFrom(w, user, thr)), expected)
    }
    assert(recommendModel(rows, 3L, 3L, 10).map(_._1) == Seq("b", "e", "d", "c"))
    assert(recommendModel(rows, 99L, 3L, 10).isEmpty)
  }

  test("recommend: one hot channel-week matches the model") {
    Seq(10L, 390L).foreach { user =>
      val got = Similarity.recommend(events(hotRows), user, 100L).collect().map(r => r.getString(0) -> r.getDouble(1)).toSeq
      assertRanked(got, recommendModel(hotRows, user, 100L, 10))
    }
  }

  test("contentSimilarity: a NULL source counts in df, never in n_src or a dot; a blank doc counts in n_src") {
    val docs = Seq(
      Some("s1") -> "the cat sat on the mat", Some("s2") -> "The dog sat on the log",
      Some("s3") -> "the cat and the dog", Some("s4") -> "   ", Some("s5") -> "birds fly",
      None -> "the cat the cat") ++ (6 to 40).map(i => Some(f"s$i%02d") -> s"the word$i cat")
    val tf = docs.flatMap { case (src, t) => t.trim.toLowerCase.split("\\s+").filter(_.nonEmpty).map(src -> _) }
      .groupBy(identity).map { case (key, xs) => key -> xs.size.toLong }
    val df = tf.keys.groupBy(_._2).map { case (term, xs) => term -> xs.size }
    val n = docs.flatMap(_._1).distinct.size
    val wt = tf.map { case ((src, term), c) => (src, term) -> c * (StrictMath.log((1d + n) / (1d + df(term))) + 1) }
    val n2 = wt.groupBy(_._1._1).map { case (src, xs) => src -> xs.values.map(x => x * x).sum }
    val bySource = wt.toSeq.collect { case ((Some(src), term), x) => src -> (term -> x) }
      .groupBy(_._1).map { case (src, xs) => src -> xs.map(_._2).toMap }
    val model = (for ((a, va) <- bySource; (b, vb) <- bySource if a < b && va.keySet.intersect(vb.keySet).nonEmpty)
      yield (a, b) -> fl4(va.keySet.intersect(vb.keySet).toSeq.map(t => va(t) * vb(t)).sum /
        (math.sqrt(n2(Some(a))) * math.sqrt(n2(Some(b)))))).toMap
    assert(df("the") == 39 && n == 40)
    val s = spark
    import s.implicits._
    val got = Similarity.contentSimilarity(docs.toDF("source", "text")).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getDouble(2)).toMap
    assert(got.keySet == model.keySet)
    got.foreach { case (k, v) => assert(math.abs(v - model(k)) <= 1.01e-4, s"$k: $v vs ${model(k)}") }
  }
}

/** The week of a `yyyy-MM-dd` day: its ISO Monday, as `date_trunc('week')`. */
private object EventSemanticsModel {
  def week(day: String): String = {
    val d = java.time.LocalDate.parse(day)
    d.minusDays((d.getDayOfWeek.getValue - 1).toLong).toString
  }
}
