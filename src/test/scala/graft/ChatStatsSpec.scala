package graft

import org.apache.spark.sql.functions._
import graft.operators._

class ChatStatsSpec extends SparkSpec {

  private def events = Tables.events(spark, sfDir)

  test("userData rollup: counts reconcile with raw events") {
    val ud = EventSemantics.userData(events)
    val totals = ud.agg(sum("total_message_count")).first().getLong(0)
    val raw = events.filter(!EventSemantics.isGift).count()
    assert(totals === raw)
    // category pivot sums to total
    val catSum = ud.agg(
      sum(col("jp_count") + col("kr_count") + col("ru_count") +
        col("emoji_count") + col("es_en_id_count"))).first().getLong(0)
    assert(catSum === raw)
  }

  test("engagementApprox: HLL user counts within 5% of exact, messages exact") {
    val exact = ChatStats.engagement(events)
      .select(col("channel"), col("week"), col("total_users"),
        col("total_messages").as("m_exact"))
    val approx = ChatStats.engagementApprox(events)
      .select(col("channel"), col("week"), col("approx_users"),
        col("total_messages").as("m_approx"))
    val joined = exact.join(approx, Seq("channel", "week"))
    assert(joined.count() == exact.count(), "sketch twin lost groups")
    // and the reverse: an inner join silently DROPS groups only the
    // sketch twin emits, so phantom groups need their own assertion
    assert(approx.count() == exact.count(), "sketch twin emitted phantom groups")
    assert(joined.filter(col("m_exact") =!= col("m_approx")).count() == 0)
    val offenders = joined.filter(
      abs(col("approx_users") - col("total_users")).cast("double") >
        col("total_users").cast("double") * 0.05).count()
    assert(offenders == 0, "HLL estimate drifted beyond 5% relative error")
  }

  test("leaderboard: windowed top-k equals an independent in-memory model") {
    val lb = ChatStats.leaderboard(events, k = 5)
    // independent model: plain Scala sort/take over the collected rollup —
    // range checks alone would pass a broken partial limit that surfaces
    // the WRONG users (any 5 rows with positions 1..5 look plausible)
    val act = EventSemantics.userWeeklyActivity(events)
      .select(col("user_id").cast("long"), col("channel"),
        col("week").cast("string"), col("messages").cast("long"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getLong(3)))
    val expected = act.groupBy(t => (t._2, t._3)).toSeq.flatMap { case ((c, w), xs) =>
      xs.sortBy(t => (-t._4, t._1)).take(5).zipWithIndex
        .map { case (t, i) => (c, w, (i + 1).toLong, t._1, t._4) }
    }.toSet
    val got = lb.select(col("channel"), col("week").cast("string"),
      col("position"), col("user_id").cast("long"), col("messages").cast("long"))
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).toSet
    assert(got.nonEmpty)
    assert(got === expected)
  }

  test("commonUsersMatrix: diagonal is 100%") {
    val m = ChatStats.commonUsersMatrix(events)
    val diag = m.filter(col("channel_a") === col("channel_b"))
    assert(diag.count() > 0)
    assert(diag.filter(col("pct_a_to_b") =!= 100.0).count() === 0)
  }

  test("membershipSummary: percentages sum to ~100 per channel-week") {
    val ms = ChatStats.membershipSummary(events)
    val sums = ms.groupBy("channel", "week")
      .agg(sum("percentage_total").as("p"))
      .filter(col("p") < 99.9 || col("p") > 100.1)
    assert(sums.count() === 0)
  }

  test("userChanges: gains/losses are non-negative and net consistent") {
    val uc = ChatStats.userChanges(events)
    assert(uc.filter(col("users_gained") < 0 || col("users_lost") < 0).count() === 0)
    assert(uc.filter(col("net_change") =!= col("users_gained") - col("users_lost")).count() === 0)
  }

  test("exclusiveUsers: percentage within [0, 100]") {
    val ex = ChatStats.exclusiveUsers(events)
    assert(ex.count() > 0)
    assert(ex.filter(col("exclusive_percent") < 0 || col("exclusive_percent") > 100).count() === 0)
  }

  test("userPercentile: max percentile is 100") {
    val up = ChatStats.userPercentile(events)
    val mx = up.agg(max("percentile")).first().getDouble(0)
    assert(mx === 100.0)
  }

  test("attrition: matches an independent in-memory model, weeks strictly after baseline") {
    val topK = 100; val baselineWeeks = 3
    val at = ChatStats.attrition(events, topK = topK, baselineWeeks = baselineWeeks)
      .select(col("week").cast("string"), col("active_users"), col("percent_active"))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2))).toMap
    // independent model over the collected rollup: a range check alone is
    // vacuous on empty output and blind to a wrong cutoff or top set
    val act = EventSemantics.userWeeklyActivity(events)
      .select(col("user_id").cast("long"), col("week").cast("string"),
        col("messages").cast("long"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    val weeks = act.map(_._2).distinct.sorted
    val cutoff = weeks(math.min(baselineWeeks, weeks.length) - 1)
    val top = act.filter(_._2 <= cutoff).groupBy(_._1)
      .map { case (u, xs) => (u, xs.map(_._3).sum) }.toSeq
      .sortBy { case (u, t) => (-t, u) }.take(topK).map(_._1).toSet
    val expected = act.filter(_._2 > cutoff).map(t => (t._1, t._2)).distinct
      .filter(t => top(t._1)).groupBy(_._2)
      .map { case (w, xs) => w -> xs.size.toLong }
    assert(expected.nonEmpty, "fixture makes the attrition branch unreachable")
    assert(at.keySet === expected.keySet)
    expected.foreach { case (w, n) =>
      assert(at(w)._1 === n, s"week $w active_users")
      assert(at(w)._2 === math.floor(n * 100d / topK * 1e4) / 1e4, s"week $w percent")
      assert(w > cutoff, s"week $w not after baseline cutoff $cutoff")
    }
  }

  test("commonUsersMatrixApprox: sketch intersections within 5% of the exact matrix") {
    val exact = ChatStats.commonUsersMatrix(events).collect()
      .map(r => (r.getDate(0).toString, r.getString(1), r.getString(2)) -> r.getLong(3)).toMap
    val approx = ChatStats.commonUsersMatrixApprox(events).collect()
      .map(r => (r.getDate(0).toString, r.getString(1), r.getString(2)) -> r.getLong(3)).toMap
    assert(approx.nonEmpty)
    // every exact pair has an approx row (the approx emits ALL directional
    // pairs, the exact only those sharing >= 1 user — so approx covers it)
    assert(exact.keySet.subsetOf(approx.keySet))
    // relative error bound on meaningfully-sized intersections; tiny ones
    // get an absolute allowance (HLL error is relative to the SET sizes,
    // not the intersection, so inclusion-exclusion noise is absolute)
    exact.foreach { case (k, ex) =>
      val ap = approx(k)
      val tol = math.max(5d, ex * 0.05)
      assert(math.abs(ap - ex) <= tol,
        s"pair $k: approx $ap vs exact $ex exceeds tolerance $tol")
    }
    // pairs absent from the exact matrix truly share ~no users
    (approx.keySet -- exact.keySet).foreach { k =>
      assert(approx(k) <= 5, s"phantom intersection at $k: ${approx(k)}")
    }
  }

  test("sketchRollup: incremental sketch merge estimates equal the full-history build") {
    val cutoff = to_date(lit("2024-01-20"))
    val stored = ChatStats.sketchRollup(events.filter(col("ts") < cutoff))
    val delta = ChatStats.sketchRollup(events.filter(col("ts") >= cutoff))
    val merged = ChatStats.mergeSketchRollups(stored, delta)
      .select(col("channel"), col("week"), hll_sketch_estimate(col("sk")).as("est"))
      .collect().map(r => (r.getString(0), r.getDate(1).toString) -> r.getLong(2)).toMap
    val full = ChatStats.sketchRollup(events)
      .select(col("channel"), col("week"), hll_sketch_estimate(col("sk")).as("est"))
      .collect().map(r => (r.getString(0), r.getDate(1).toString) -> r.getLong(2)).toMap
    assert(merged.keySet == full.keySet)
    full.foreach { case (k, fe) =>
      val me = merged(k)
      // HLL union is lossless at matched lgConfigK — estimates agree
      assert(me == fe, s"$k: merged estimate $me != full estimate $fe")
    }
    // and the estimates track the exact distinct counts within HLL error
    val exact = EventSemantics.userWeeklyActivity(events)
      .groupBy("channel", "week").agg(countDistinct("user_id").as("u"))
      .collect().map(r => (r.getString(0), r.getDate(1).toString) -> r.getLong(2)).toMap
    exact.foreach { case (k, ex) =>
      assert(math.abs(full(k) - ex) <= math.max(3d, ex * 0.05), s"$k: ${full(k)} vs exact $ex")
    }
  }

  test("retentionCohort: offset 0 is the full cohort, later offsets never exceed it") {
    val rc = ChatStats.retentionCohort(events).cache()
    assert(rc.count() > 0)
    // at offset 0 every cohort member is active by definition of first week
    assert(rc.filter(col("offset_weeks") === 0 &&
      (col("active_users") =!= col("cohort_size") || col("retention") =!= 1.0)).count() === 0)
    assert(rc.filter(col("active_users") > col("cohort_size")).count() === 0)
    assert(rc.filter(col("retention") <= 0 || col("retention") > 1).count() === 0)
    assert(rc.filter(col("offset_weeks") < 0).count() === 0)
    rc.unpersist()
  }
}
