package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Caches.SharedCacheOps

import EventSemantics._

/** User/channel/period analytics — the reference's materialized views and
  * user-centric API queries re-expressed as declarative Spark plans.
  *
  * Scale notes (100 TB): every operator here aggregates the raw fact table
  * down to (user, channel, period) FIRST — one shuffle keyed by the group —
  * and all pairwise/set logic runs on the rolled-up relation whose size is
  * |users| x |channels|, never on raw messages. Windows partition by
  * channel/period (bounded cardinality), so no global sorts.
  */
object ChatStats {

  /** chat_language_stats_mv (db/queries.py:210): channel x week ->
    * per-category sums + total.
    */
  def languageStats(events: DataFrame): DataFrame =
    userData(events)
      .filter(col("total_message_count") > 0)
      .groupBy(col("channel"), to_date(date_trunc("week", col("day"))).as("week"))
      .agg(
        sum("jp_count").as("jp_count"),
        sum("kr_count").as("kr_count"),
        sum("ru_count").as("ru_count"),
        sum("emoji_count").as("emoji_count"),
        sum("es_en_id_count").as("es_en_id_count"),
        sum("total_message_count").as("total_messages")
      )

  /** mv_user_language_per_month analog (db/queries.py:226). */
  def userLanguageShare(events: DataFrame): DataFrame =
    userData(events)
      .filter(col("total_message_count") > 0)
      .groupBy(col("user_id"), col("channel"), to_date(date_trunc("week", col("day"))).as("week"))
      .agg(
        sum("jp_count").as("total_jp_messages"),
        sum(col("total_message_count") - col("emoji_count")).as("total_non_emoji_messages")
      )

  /** refresh_membership_data_for_month (db/queries.py:120-177): per week,
    * dedup each (user, channel) to its authoritative rank — known ranks
    * (>=0) beat unknown gift ranks (-2) beat non-member, latest timestamp
    * wins — then count per (channel, rank) with % of channel total.
    */
  def membershipSummary(events: DataFrame): DataFrame =
    membershipSummaryFrom(weeklyUserData(events))

  /** userData extended with the ISO week — the input shape of the
    * membership seams (and the MV a warehouse would maintain for them).
    */
  def weeklyUserData(events: DataFrame): DataFrame =
    userData(events).withColumn("week", to_date(date_trunc("week", col("day"))))

  /** Authoritative weekly rank per (user, channel): the day-row winning
    * (known > unknown-gift > non-member, then latest activity). A pick-best
    * `min_by` over a lexicographic key — NOT a row_number window: the hash
    * aggregate pre-combines map-side (each task emits one candidate row per
    * group before the shuffle) and never sorts, where the window form
    * shuffles every day-row and sorts each partition twice. Ties are
    * impossible: within a (user, channel, week), distinct days have
    * distinct last_ts (max ts of disjoint day ranges).
    */
  private def latestWeeklyRank(ud: DataFrame): DataFrame = {
    val prio = when(col("membership_rank") >= 0, 0)
      .when(col("membership_rank") === -2, 1)
      .otherwise(2)
    val ordKey = struct(
      prio.as("p"),
      (-unix_micros(col("last_ts"))).as("neg_ts"),
      (-unix_date(col("day"))).as("neg_day"))
    ud.groupBy("user_id", "channel", "week")
      .agg(min_by(col("membership_rank"), ordKey).as("membership_rank"))
  }

  /** Summary from an already-materialized weekly userData rollup — the
    * deploy seam for a warehouse that maintains the MV as a table (like
    * [[attritionFrom]]): no fact pass, one pick-best aggregate, one
    * count aggregate, one bounded (channel, week) window.
    */
  def membershipSummaryFrom(ud: DataFrame): DataFrame = {
    val chTotal = Window.partitionBy("channel", "week")
    latestWeeklyRank(ud)
      .groupBy("channel", "week", "membership_rank")
      .agg(count("user_id").as("membership_count"))
      .withColumn(
        "percentage_total",
        fl(col("membership_count").cast("double") * 100d /
          sum("membership_count").over(chTotal).cast("double"), 4)
      )
  }

  /** get_group_membership_summary for ONE period (the reference endpoint is
    * month-scoped, api.py:1792; here the period is the ISO week and
    * `weekStart` must be a Monday). The period predicate lands on the RAW
    * timestamp before any derivation — the scan filter is two long
    * comparisons (row-group-prunable on a ts-sorted layout), not per-row
    * date_trunc chains over the whole fact table, and every aggregate
    * downstream sees one week's events instead of the full history.
    */
  def membershipCounts(events: DataFrame, weekStart: String): DataFrame = {
    val ws = to_date(lit(weekStart))
    val filtered = events.filter(
      col("ts") >= ws.cast("timestamp") && col("ts") < date_add(ws, 7).cast("timestamp"))
    membershipSummaryFrom(weeklyUserData(filtered))
      .filter(col("week") === ws)
  }

  /** get_group_membership_summary total mode (api.py:1792-1803):
    * all members (rank != -1) per channel per week.
    */
  def membershipTotal(events: DataFrame): DataFrame =
    // counts users straight off the latest-rank relation — summing the
    // per-rank counts (and their percentage window) would build a whole
    // relation this query immediately collapses
    latestWeeklyRank(weeklyUserData(events))
      .filter(col("membership_rank") =!= -1)
      .groupBy("channel", "week")
      .agg(count(lit(1)).as("total_members"))

  /** get_chat_leaderboard (api.py:2026): top-k users by message count per
    * channel-week, as one `row_number() <= k` window. Spark plans that
    * filter as a `WindowGroupLimit`, and its `Partial` half runs BELOW the
    * (channel, week) exchange: each map partition keeps at most k rows per
    * key, so a hot channel's weekly user base never reaches one task's
    * sort — the hot-key bound a salted two-phase top-k would give, with one
    * window and one shuffle fewer (`DashboardPlanSpec` pins the partial
    * limit). row_number (not rank) with the user_id tiebreak keeps the
    * result deterministic.
    */
  def leaderboard(events: DataFrame, k: Int = 10): DataFrame = {
    val byMessages = Window.partitionBy("channel", "week")
      .orderBy(col("messages").desc, col("user_id").asc)
    userWeeklyActivity(events)
      .withColumn("position", row_number().over(byMessages).cast("long"))
      .filter(col("position") <= k)
      .select("channel", "week", "position", "user_id", "messages")
  }

  /** get_chat_engagement (api.py:2853): users, messages, avg msgs/user. */
  def engagement(events: DataFrame): DataFrame =
    userWeeklyActivity(events)
      .groupBy("channel", "week")
      .agg(
        count("user_id").as("total_users"),
        sum("messages").as("total_messages")
      )
      .withColumn(
        "avg_messages_per_user",
        fl(col("total_messages").cast("double") / col("total_users").cast("double"), 4)
      )

  /** Sketch twin of [[engagement]] for the 100 TB interactive path: HLL++
    * distinct users straight off the event scan — no per-user rollup
    * shuffle at all, one partial-aggregated exchange of fixed-size sketch
    * buffers per (channel, week). `rsd` 0.02 ⇒ ~1.5 KB sketches. The
    * exact version stays the oracle-checked default; the spec bounds this
    * one's relative error. Message totals are exact either way (plain
    * sums commute).
    */
  def engagementApprox(events: DataFrame, rsd: Double = 0.02): DataFrame =
    events
      .filter(!isGift)
      .groupBy(channel, week.as("week"))
      .agg(
        approx_count_distinct(col("user_id"), rsd).as("approx_users"),
        count(lit(1)).as("total_messages"))
      .withColumn(
        "avg_messages_per_user",
        fl(col("total_messages").cast("double") / col("approx_users").cast("double"), 4))

  /** get_user_info percentile (api.py:2820-2843): per user-channel-week,
    * message count + percentile (fraction of channel users with count <=
    * yours) — exactly cume_dist over the weekly activity.
    */
  def userPercentile(events: DataFrame): DataFrame = {
    val w = Window.partitionBy("channel", "week").orderBy(col("messages").asc)
    userWeeklyActivity(events)
      .withColumn("percentile", fl(cume_dist().over(w) * 100d, 4))
      .select("user_id", "channel", "week", "messages", "percentile")
  }

  /** get_common_users / get_common_users_matrix (api.py:1438/1521):
    * directional common-user percentages for every channel pair per week.
    */
  def commonUsersMatrix(events: DataFrame): DataFrame =
    commonUsersMatrixFrom(userWeeklyActivity(events).select("user_id", "channel", "week"))

  /** Matrix from an already-materialized (user_id, channel, week) rollup —
    * the deploy seam for a warehouse that maintains the reference's MV as
    * a table: bucketed by user_id (Layout.writeBucketed), the (user, week)
    * aggregate below runs with ZERO exchanges (bucket partitioning on a
    * subset of its keys satisfies it; LayoutSpec pins this).
    *
    * No self-join: each (user, week) lists its distinct channels (at most
    * |channels|) and emits every ordered pair of them, counted per (week,
    * channel_a, channel_b). The diagonal (week, c, c) counts cell c's
    * rows, its size, which a window over (week, channel_a) reads off the
    * counted block (at most |channels| rows a partition). A struct keeps a
    * NULL channel in the list. As in the oracle: a NULL user emits only
    * its diagonal, so it counts in the size and never in `common_users`; a
    * NULL channel has no diagonal, so it drops as channel_a (no size) and
    * stays as channel_b; a NULL week pairs nothing.
    *
    * Against the cached rollup it replaces (`graft.Bench`, 4 vCPU, median
    * of 3, SoakGen x30 of sf0.1): 6.0 s against 6.2 (members 9.1 against
    * 9.9) with the rollup over the broadcast threshold, as at any real
    * scale (1 MB here); under the default 50 MB, which broadcasts the
    * cached rollup into its self-join, 6.9 against 5.9 (wall slope over
    * x1/x10/x30 0.55 against 0.50; members 10.2 against 10.8).
    */
  def commonUsersMatrixFrom(ucw: DataFrame): DataFrame =
    ucw.filter(col("week").isNotNull)
      .groupBy("user_id", "week").agg(collect_list(struct(col("channel"))).as("cs"))
      .select(col("user_id"), col("week"), explode(col("cs")).as("a"), col("cs"))
      .select(col("user_id"), col("week"), col("a.channel").as("channel_a"), explode(col("cs")).as("b"))
      .filter(col("user_id").isNotNull || col("channel_a") <=> col("b.channel"))
      .groupBy(col("week"), col("channel_a"), col("b.channel").as("channel_b"))
      .agg(count(when(col("user_id").isNotNull, 1)).as("common_users"), count(lit(1)).as("n"))
      .withColumn("size_a", max(when(col("channel_a") === col("channel_b"), col("n")))
        .over(Window.partitionBy("week", "channel_a")))
      .filter(col("common_users") > 0 && col("size_a").isNotNull)
      .select(col("week"), col("channel_a"), col("channel_b"), col("common_users"),
        fl(col("common_users").cast("double") * 100d / col("size_a").cast("double"), 4).as("pct_a_to_b"))

  /** Sketch twin of [[commonUsersMatrixFrom]] for the 100 TB interactive
    * path: per (channel, week) a DataSketches HLL sketch of the user set —
    * built in ONE partial-aggregated pass over the rollup — then every
    * directional pair intersection estimated by inclusion–exclusion
    * (|A∩B| = |A| + |B| − |A∪B|, the union via sketch merge). The pair
    * stage moves |channels|² fixed-size sketch buffers instead of
    * re-shuffling the |users × channels × week| rollup through a
    * user-keyed self-join — the sketch relation is broadcastable, so the
    * pair join is exchange-free at any corpus size. The exact matrix
    * stays the oracle-checked default; the spec bounds this one's
    * relative error against it (lgConfigK 14 ⇒ ~1% standard error).
    */
  def commonUsersMatrixApprox(events: DataFrame, lgConfigK: Int = 14): DataFrame =
    commonUsersMatrixApproxFrom(sketchRollup(events, lgConfigK))

  /** Matrix from an already-built (channel, week, sk) sketch rollup — ONE
    * raw-event pass builds it (the sketch dedups users itself, so no
    * user-keyed rollup shuffle exists anywhere in this path), or zero
    * passes when the warehouse maintains it via [[mergeSketchRollups]].
    */
  def commonUsersMatrixApproxFrom(sk: DataFrame): DataFrame = {
    val a = sk.select(col("week"), col("channel").as("channel_a"), col("sk").as("sk_a"))
    val b = sk.select(col("week"), col("channel").as("channel_b"), col("sk").as("sk_b"))
    // diagonal kept (|A ∩ A| estimates to |A|) — the exact matrix emits it
    a.join(broadcast(b), Seq("week"))
      .select(col("week"), col("channel_a"), col("channel_b"),
        greatest(lit(0L),
          hll_sketch_estimate(col("sk_a")) + hll_sketch_estimate(col("sk_b"))
            - hll_sketch_estimate(hll_union(col("sk_a"), col("sk_b"))))
          .as("approx_common_users"),
        hll_sketch_estimate(col("sk_a")).as("approx_size_a"))
      .withColumn("approx_pct_a_to_b",
        fl(col("approx_common_users").cast("double") * 100d /
          col("approx_size_a").cast("double"), 4))
      .drop("approx_size_a")
  }

  /** Sketch-MV build: one HLL user sketch per (channel, week) — the stored
    * relation [[commonUsersMatrixApproxFrom]] reads, and the ingest-time
    * maintenance unit: sketches are MERGEABLE, so a new event partition is
    * sketched alone and unioned into the stored row
    * ([[mergeSketchRollups]]) without touching history — the sketch twin
    * of [[EventSemantics.incrementRollup]]'s additive-count merge. At
    * 100 TB the stored MV is |channels × weeks| × ~10 KB.
    */
  def sketchRollup(events: DataFrame, lgConfigK: Int = 14): DataFrame =
    events
      .filter(!isGift)
      .groupBy(channel, week.as("week"))
      .agg(hll_sketch_agg(col("user_id"), lit(lgConfigK)).as("sk"))

  /** Merge two sketch rollups (stored MV + delta partition): sketch union
    * per key. Estimates after merge equal the full-history build's —
    * `ChatStatsSpec` pins that equivalence.
    */
  def mergeSketchRollups(stored: DataFrame, delta: DataFrame): DataFrame =
    stored.unionByName(delta)
      .groupBy("channel", "week")
      .agg(hll_union_agg(col("sk")).as("sk"))

  /** get_common_users (api.py:1438) for one cross-period pair:
    * channel A in week wa vs channel B in week wb (sets can come from
    * different periods, unlike the matrix).
    */
  def commonUsersPair(events: DataFrame, chA: String, wa: String, chB: String, wb: String): DataFrame = {
    // channel and week are grouping keys of the rollup, so the cell filter
    // reaches the scan; one user-keyed aggregate then carries both
    // memberships (max drops the rollup's own aggregate as redundant)
    val inA = col("channel") === chA && col("week") === to_date(lit(wa))
    val inB = col("channel") === chB && col("week") === to_date(lit(wb))
    userWeeklyActivity(events)
      .filter(inA || inB)
      .groupBy("user_id")
      .agg(max(inA).as("a"), max(inB).as("b"))
      .agg(
        // a NULL user is one row of each side's DISTINCT set but never
        // joins, so it counts in the sizes and not in the intersection
        count_if(col("a") && col("b") && col("user_id").isNotNull).as("num_common_users"),
        count_if(col("a")).as("size_a"),
        count_if(col("b")).as("size_b"))
      .select(
        col("num_common_users"),
        // NULLIF guards the empty-side case (no users in that channel-week):
        // ANSI division by zero would fail the whole query; NULL percentage
        // is the SQL answer for "share of nobody"
        fl(col("num_common_users").cast("double") * 100d /
          nullif(col("size_a").cast("double"), lit(0d)), 4).as("pct_a_to_b"),
        fl(col("num_common_users").cast("double") * 100d /
          nullif(col("size_b").cast("double"), lit(0d)), 4).as("pct_b_to_a")
      )
  }

  /** get_common_members (api.py:1618): matrix restricted to members
    * (weekly max rank >= 0), by [[commonUsersMatrixFrom]].
    */
  def commonMembersMatrix(events: DataFrame): DataFrame = {
    val members = userData(events)
      .withColumn("week", to_date(date_trunc("week", col("day"))))
      .groupBy("user_id", "channel", "week")
      .agg(max("membership_rank").as("rank"))
      .filter(col("rank") >= 0)
      .select("user_id", "channel", "week")
    commonUsersMatrixFrom(members).withColumnRenamed("common_users", "common_members")
  }

  /** get_group_membership_changes (api.py:1832): LAG(rank) per
    * (user, channel) over days -> gains (-1 -> member), losses
    * (member -> -1), aggregated per channel-week of the transition day.
    */
  def membershipChanges(events: DataFrame): DataFrame = {
    val ud = userData(events)
    val w = Window.partitionBy("user_id", "channel").orderBy(col("day").asc)
    val trans = ud
      .withColumn("prev_rank", lag("membership_rank", 1).over(w))
      .filter(col("prev_rank").isNotNull)
      .withColumn("week", to_date(date_trunc("week", col("day"))))
    trans
      .groupBy("channel", "week")
      .agg(
        count(when(col("prev_rank") === -1 && col("membership_rank") =!= -1, 1)).as("gains_count"),
        count(when(col("prev_rank") =!= -1 && col("membership_rank") === -1, 1)).as("losses_count")
      )
      .withColumn("differential", col("gains_count") - col("losses_count"))
  }

  /** get_user_changes (api.py:2097): active users (>= threshold msgs)
    * gained/lost vs previous week per channel.
    */
  def userChanges(events: DataFrame, threshold: Int = 5): DataFrame = {
    // Presence set-difference WITHOUT anti-joins: one explode tags each
    // qualified row as current presence and as the next week's previous
    // presence, collapse per (user, channel, week), then count the cur-only
    // and prev-only users per (channel, week). Two keyed shuffles with
    // map-side partial aggregation — the anti-join formulation either
    // broadcasts a user-cardinality relation (unscalable) or shuffles
    // three times and full-outer-merges with a sort.
    val tagged = userWeeklyActivity(events)
      .filter(col("messages") >= threshold)
      .select(col("user_id"), col("channel"), explode(array(
        struct(col("week").as("week"), lit(1).as("c"), lit(0).as("p")),
        struct(date_add(col("week"), 7).as("week"), lit(0).as("c"), lit(1).as("p")))).as("t"))
    tagged
      // the oracle's NOT EXISTS never matches a NULL user, channel or week,
      // so such a row's current and previous-week tags stay apart: it is
      // gained and lost; and its FULL OUTER JOIN never matches a NULL
      // channel or week, so their gained and lost counts stay apart too
      .groupBy(col("user_id"), col("channel"), col("t.week").as("week"),
        when(col("user_id").isNull || col("channel").isNull || col("t.week").isNull, col("t.c")).as("side"))
      .agg(max("t.c").as("c"), max("t.p").as("p"))
      .groupBy(col("channel"), col("week"), when(col("channel").isNull || col("week").isNull, col("c")).as("side"))
      .agg(
        count(when(col("c") === 1 && col("p") === 0, 1)).as("users_gained"),
        count(when(col("p") === 1 && col("c") === 0, 1)).as("users_lost"))
      .filter(col("users_gained") > 0 || col("users_lost") > 0)
      .select(col("channel"), col("week"), col("users_gained"), col("users_lost"),
        (col("users_gained") - col("users_lost")).as("net_change"))
  }

  /** get_exclusive_chat_users (api.py:2176): % of a channel's weekly users
    * active in no other channel that week. Each (user, channel, week) row
    * carries the user's channel count that week as a `count` window over
    * (user_id, week) — one aggregation, no N anti-joins, no span join. A
    * window partition is one user's channels in one week, at most
    * |channels| rows. Within run noise of the cached span join it
    * replaced (x30 4.7 s against 4.6 and 5.5 against 5.1 in two rounds;
    * wall slope over sf0.1 x1/x10/x30 0.68 against 0.65), as a collected
    * channel list per (user, week) is too (5.3 against 4.9).
    */
  def exclusiveUsers(events: DataFrame): DataFrame =
    userWeeklyActivity(events)
      // the oracle's span join drops a NULL user's or week's rows; a window
      // would keep them (and the filter reaches the scan)
      .filter(col("user_id").isNotNull && col("week").isNotNull)
      .withColumn("n_channels", count(lit(1)).over(Window.partitionBy("user_id", "week")))
      .groupBy("channel", "week")
      .agg(
        count(lit(1)).as("total_users"),
        count(when(col("n_channels") === 1, 1)).as("exclusive_users")
      )
      .withColumn("exclusive_percent",
        fl(col("exclusive_users").cast("double") * 100d / col("total_users").cast("double"), 4))

  /** get_jp_user_percent (api.py:2464): % of a channel-week's users whose
    * jp messages exceed half their non-emoji messages. Integer compare
    * (2*jp > non_emoji) keeps it exact.
    */
  def heavyLangUsers(events: DataFrame): DataFrame =
    userLanguageShare(events)
      .groupBy("channel", "week")
      .agg(
        count(lit(1)).as("total_users"),
        count(when(col("total_non_emoji_messages") > 0 &&
          col("total_jp_messages") * 2 > col("total_non_emoji_messages"), 1)).as("jp_users")
      )
      .withColumn("jp_user_percent",
        fl(col("jp_users").cast("double") * 100d / col("total_users").cast("double"), 4))

  /** get_attrition_rates (api.py:2355): top-K users over the baseline
    * window (first `baselineWeeks` weeks) by total messages, then % of
    * them active in each subsequent week. The top-K set is a tiny
    * relation -> broadcast to the activity scan.
    */
  def attrition(events: DataFrame, topK: Int = 1000, baselineWeeks: Int = 3): DataFrame =
    // The weekly rollup is consumed three times (week index, baseline
    // top-K, later-weeks presence). The branches prune different columns,
    // so Catalyst canonicalizes them to DIFFERENT exchanges — without a
    // barrier the fact table is scanned and re-shuffled once per branch.
    // Materializing the rollup mirrors the reference exactly: this IS
    // mv_user_monthly_activity, a materialized view in Postgres
    // (db/queries.py:179). One fact pass at 100 TB instead of three; the
    // cached relation is |user x channel x week|, orders of magnitude
    // smaller than the raw fact (see README "Cache lifecycle").
    attritionFrom(
      userWeeklyActivity(events)
        .sharedCache,
      topK, baselineWeeks)

  /** Attrition from an already-materialized weekly rollup — the deploy
    * seam for a warehouse that maintains the rollup as a TABLE
    * (EventSemantics.incrementRollup keeps it fresh; Layout.writeBucketed
    * lays it out): no fact pass at all, the query runs entirely off the
    * |user × channel × week| relation.
    */
  def attritionFrom(act: DataFrame, topK: Int = 1000, baselineWeeks: Int = 3): DataFrame = {
    // the baseline boundary is the baselineWeeks-th distinct week — weeks
    // are calendar-bounded (one row per week ever observed), so ONE tiny
    // collect replaces the row_number window + broadcast join the index
    // formulation needs, and the baseline/later splits become plain
    // pushable date predicates on the rollup scan
    val weeks = act.select("week").distinct().collect()
      .map(_.getDate(0)).sortBy(_.getTime)
    // baselineWeeks <= 0 means an empty baseline window: no top set, no
    // rows — same degenerate shape as an empty corpus (and it must not
    // index weeks(-1))
    if (weeks.isEmpty || baselineWeeks <= 0)
      return act.select(col("week"), lit(0L).as("active_users"),
        lit(0d).as("percent_active")).limit(0)
    val cutoff = weeks(math.min(baselineWeeks, weeks.length) - 1)
    val top = act
      .filter(col("week") <= lit(cutoff))
      .groupBy("user_id")
      .agg(sum("messages").as("total"))
      .orderBy(col("total").desc, col("user_id").asc)
      .limit(topK)
      .select("user_id")
    val later = act.filter(col("week") > lit(cutoff))
      .select("user_id", "week").distinct()
    later
      .join(broadcast(top), "user_id")
      .groupBy("week")
      .agg(count(lit(1)).as("active_users"))
      .withColumn("percent_active",
        fl(col("active_users").cast("double") * 100d / lit(topK).cast("double"), 4))
  }

  /** #82 cohort retention matrix — the classic product-analytics twin of
    * attrition (api.py:2355 tracks ONE fixed baseline cohort; this tracks
    * EVERY weekly first-seen cohort per channel): users grouped by their
    * first active week in a channel, then for each week-offset the count
    * still active and its share of the cohort.
    *
    * Shape: runs entirely off the weekly rollup. Cohort week is a window
    * MIN over (user, channel) — one exchange, no self-join — then one
    * partial-agg shuffle to (channel, cohort_week, offset), then a
    * cohort-size window. The rollup is orders of magnitude smaller than
    * the fact table, so all three exchanges move rollup-sized data; the
    * offset-0 row is the cohort definition itself, so cohort_size needs
    * no second pass over activity.
    */
  def retentionCohort(events: DataFrame): DataFrame =
    retentionCohortFrom(userWeeklyActivity(events))

  /** Retention from an already-materialized weekly rollup (deploy seam,
    * like [[attritionFrom]]). */
  def retentionCohortFrom(act: DataFrame): DataFrame = {
    val byUserChannel = Window.partitionBy(col("user_id"), col("channel"))
    val withCohort = act
      .select(col("user_id"), col("channel"), col("week"))
      .withColumn("cohort_week", min(col("week")).over(byUserChannel))
      // weeks are Monday-truncated dates, so the day gap is an exact
      // multiple of 7 and the division is exact in both engines
      .withColumn("offset_weeks",
        (datediff(col("week"), col("cohort_week")) / 7).cast("int"))
    val cells = withCohort
      .groupBy(col("channel"), col("cohort_week"), col("offset_weeks"))
      .agg(count(lit(1)).as("active_users"))
    val byCohort = Window.partitionBy(col("channel"), col("cohort_week"))
    cells
      .withColumn("cohort_size",
        max(when(col("offset_weeks") === 0, col("active_users"))).over(byCohort))
      .select(col("channel"), col("cohort_week"), col("offset_weeks"),
        col("active_users"), col("cohort_size"),
        fl(col("active_users").cast("double") / col("cohort_size").cast("double"), 6)
          .as("retention"))
  }

  /** Site-wide stats (api.py:2629-2676): #chat-logs (channel-days), total
    * messages, date range. One scan, one row.
    */
  def siteStats(events: DataFrame): DataFrame =
    events
      .filter(!isGift)
      .select(channel, EventSemantics.day.as("day"), col("ts"))
      .agg(
        countDistinct(col("channel"), col("day")).as("num_chat_logs"),
        count(lit(1)).as("num_messages"),
        min("ts").as("min_ts"),
        max("ts").as("max_ts")
      )

}
