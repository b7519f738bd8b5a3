package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.GroupState

import graft.operators.EventSemantics

/** Stateful membership-transition detection (SURVEY §2 #54) — the
  * Structured-Streaming twin of reference `get_group_membership_changes`
  * (web/api.py:1832), which diffs `membership_rank` per (user, channel)
  * between periods with LAG. Here the same transition semantics run
  * incrementally: `flatMapGroupsWithState` keeps each (user, channel)'s
  * last-seen rank and emits a row whenever a newly observed event carries a
  * different rank ('gained' -1→member, 'lost' member→-1, 'changed'
  * tier→tier).
  *
  * The SAME stateful function runs in batch mode (state starts empty, one
  * invocation per group) — that is the `queries` entry the driver
  * oracle-checks against the LAG formulation in DuckDB, proving the
  * stateful path equals the window-function path. `MembershipStreamSpec`
  * additionally feeds the rows through a MemoryStream in two batches to
  * prove state carries across micro-batches.
  *
  * Scale: state is one int per live (user, channel) pair, keyed exactly by
  * the shuffle; events within a group are sorted per invocation (bounded by
  * one user's activity in one channel per micro-batch).
  *
  * Ordering contract: events are sorted by (ts, event_id) WITHIN each
  * micro-batch, but state carries only the last-seen rank — an event
  * arriving in a later micro-batch with an EARLIER event-time is processed
  * as if it were newest, diverging from the batch/LAG formulation. This
  * matches an in-order source (a partitioned log keyed by user, the
  * reference's ingestion order); feeds with cross-batch event-time disorder
  * need watermark-delayed buffering in the state (not implemented).
  */
object MembershipStream {

  case class RankEvent(user_id: Long, channel: String, ts: Timestamp, event_id: Long, rank: Int)
  case class RankState(lastRank: Int)
  case class Transition(user_id: Long, channel: String, ts: Timestamp,
                        prev_rank: Int, new_rank: Int, kind: String)

  /** Project raw events onto the typed rank stream. */
  def rankEvents(events: DataFrame): Dataset[RankEvent] = {
    import events.sparkSession.implicits._
    events.select(
      col("user_id"), EventSemantics.channel, col("ts"), col("event_id"),
      EventSemantics.membershipRank.as("rank")).as[RankEvent]
  }

  private def kindOf(prev: Int, next: Int): String =
    if (prev == -1 && next >= 0) "gained"
    else if (prev >= 0 && next == -1) "lost"
    else "changed"

  /** The state transition function — shared by batch and streaming modes. */
  def detect(key: (Long, String), rows: Iterator[RankEvent],
             state: GroupState[RankState]): Iterator[Transition] = {
    // full-precision ordering: getTime is millis-truncated, so two events in
    // the same millisecond need getNanos (the full fractional second) to sort
    // the way the oracle's ORDER BY ts, event_id does
    val sorted = rows.toSeq.sortBy(e => (e.ts.getTime, e.ts.getNanos, e.event_id))
    var last = state.getOption.map(_.lastRank)
    val out = Seq.newBuilder[Transition]
    sorted.foreach { e =>
      last match {
        case Some(prev) if prev != e.rank =>
          out += Transition(key._1, key._2, e.ts, prev, e.rank, kindOf(prev, e.rank))
        case _ =>
      }
      last = Some(e.rank)
    }
    last.foreach(r => state.update(RankState(r)))
    out.result().iterator
  }

  /** Transitions over a batch OR streaming Dataset — in streaming the state
    * persists across micro-batches; in batch it is one pass per group.
    */
  def transitions(events: DataFrame): Dataset[Transition] = {
    import events.sparkSession.implicits._
    import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode}
    rankEvents(events)
      .groupByKey(e => (e.user_id, e.channel))
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(detect)
  }

}
