package graft.streaming

import org.apache.spark.sql.{Dataset, Encoders}
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** One input event for the streaming funnel. */
case class FunnelEvent(userId: Long, eventType: String, tsUs: Long)

/** Per-user funnel progress carried between micro-batches: the event time
  * at which each COMPLETED stage was reached (`reached(i)` = stage i's
  * time; size = number of stages completed so far).
  */
case class FunnelProgress(reached: Seq[Long])

/** One stage advancement (streaming output: a user moved to `stage_idx`). */
case class StageAdvance(user_id: Long, stage_idx: Int, stage: String, at_us: Long)

/** Streaming form of [[graft.operators.Cohorts.funnel]]'s strictly-ordered
  * stage machine, via `flatMapGroupsWithState`: per user, stage i+1
  * completes on the first event of its type with time STRICTLY after the
  * recorded stage-i time, and each advancement emits one row as it
  * happens — the live-funnel monitor, where the batch operator is the
  * end-of-day report.
  *
  * Ordering semantics, stated honestly: events are processed in
  * EVENT-TIME order within each micro-batch (a per-user, per-batch sort —
  * never global), and state keeps only the monotone stage-time vector. A
  * cross-batch regression — a later batch delivering an earlier-time
  * event that would have unlocked an already-seen, already-discarded
  * later event — is not replayed; bounded state cannot reorder the past.
  * Advancement is therefore conservative (at-most the batch answer, never
  * a false conversion); the spec pins both the equivalence on
  * batch-respecting arrival and the conservative divergence case. On a
  * static Dataset [[funnel]] is the batch answer. At 100 TB state is one
  * Seq[Long] of at most |stages| entries per ACTIVE user — the smallest
  * useful funnel state.
  */
object StreamingFunnel {

  /** Advance one user's progress through `stages` given batch events
    * sorted by time; returns (new progress, emitted advancements).
    */
  private def advance(
      stages: IndexedSeq[String], userId: Long,
      reached0: Vector[Long], sorted: Seq[FunnelEvent]
  ): (Vector[Long], List[StageAdvance]) = {
    var reached = reached0
    val out = List.newBuilder[StageAdvance]
    sorted.foreach { e =>
      val next = reached.size
      if (next < stages.size && e.eventType == stages(next) &&
        (next == 0 || e.tsUs > reached(next - 1))) {
        reached = reached :+ e.tsUs
        out += StageAdvance(userId, next, stages(next), e.tsUs)
      }
    }
    (reached, out.result())
  }

  /** Every stage advancement. On a static Dataset `flatMapGroupsWithState`
    * calls the function once per user with empty state, so the whole
    * input runs through the machine in full event-time order: its per-user
    * MAX stage_idx+1 vector equals [[graft.operators.Cohorts.funnel]]'s
    * stage counts (asserted in the spec), tying the streaming monitor to
    * the window-based report.
    */
  def funnel(
      events: Dataset[FunnelEvent], stages: Seq[String]): Dataset[StageAdvance] = {
    require(stages.nonEmpty && stages.distinct == stages,
      "stages must be non-empty and distinct")
    val idx = stages.toIndexedSeq
    implicit val stateEnc = Encoders.product[FunnelProgress]
    implicit val outEnc = Encoders.product[StageAdvance]
    implicit val keyEnc = Encoders.scalaLong
    events
      .groupByKey(_.userId)
      .flatMapGroupsWithState[FunnelProgress, StageAdvance](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        case (userId, it, state: GroupState[FunnelProgress]) =>
          val sorted = it.toSeq.sortBy(e => (e.tsUs, e.eventType))
          val reached0 = state.getOption.map(_.reached.toVector).getOrElse(Vector.empty)
          val (reached, emitted) = advance(idx, userId, reached0, sorted)
          if (reached.size != reached0.size) state.update(FunnelProgress(reached))
          emitted.iterator
      }
  }
}
