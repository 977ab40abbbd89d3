package graft.streaming

import org.apache.spark.sql.{Dataset, Encoders}
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** One input event for the stateful sessionizer. */
case class SessionEvent(userId: Long, tsUs: Long)

/** Per-user open-session state carried between micro-batches. */
case class SessionState(firstUs: Long, lastUs: Long, nEvents: Long)

/** One closed session (same shape as `Sessionize.sessions` output). */
case class ClosedSession(user_id: Long, first_us: Long, last_us: Long, n_events: Long)

/** Custom stateful sessionization with `flatMapGroupsWithState` — the
  * arbitrary-state form of what `session_window` does declaratively
  * (`Sessionize`). Use this shape when session logic outgrows the built-in
  * window (per-session enrichments, early emission, custom eviction);
  * prefer `session_window` otherwise.
  *
  * Semantics match [[Sessionize]]: inclusive merge boundary — an event at
  * exactly `lastUs + gapUs` merges; only strictly later starts a new
  * session. A session closes only when a later event of the same user
  * arrives beyond the gap (emitted with that batch): `sessionize` runs
  * with `GroupStateTimeout.NoTimeout()`, so no timeout ever fires and
  * each user's last session stays open in the state, never emitted.
  */
object StatefulSessionize {

  /** Fold one user's events, sorted by time, into `open`: returns the
    * sessions the events closed and the session still open after them.
    */
  private def fold(
      userId: Long, gapUs: Long, open0: Option[SessionState], sorted: Seq[SessionEvent]
  ): (List[ClosedSession], Option[SessionState]) = {
    var open = open0
    val closed = List.newBuilder[ClosedSession]
    sorted.foreach { e =>
      open match {
        case Some(s) if e.tsUs <= s.lastUs + gapUs =>
          open = Some(SessionState(s.firstUs, math.max(s.lastUs, e.tsUs), s.nEvents + 1))
        case Some(s) =>
          closed += ClosedSession(userId, s.firstUs, s.lastUs, s.nEvents)
          open = Some(SessionState(e.tsUs, e.tsUs, 1))
        case None =>
          open = Some(SessionState(e.tsUs, e.tsUs, 1))
      }
    }
    (closed.result(), open)
  }

  def sessionize(
      events: Dataset[SessionEvent],
      gapUs: Long): Dataset[ClosedSession] = {
    implicit val stateEnc = Encoders.product[SessionState]
    implicit val outEnc = Encoders.product[ClosedSession]
    implicit val keyEnc = Encoders.scalaLong

    events
      .groupByKey(_.userId)
      .flatMapGroupsWithState[SessionState, ClosedSession](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        case (userId, it, state: GroupState[SessionState]) =>
          // Events within one micro-batch arrive unordered: sort here.
          // (At scale this is per-user per-batch data, not a global sort.)
          val (closed, open) = fold(userId, gapUs, state.getOption, it.toSeq.sortBy(_.tsUs))
          open.foreach(state.update)
          closed.iterator
      }
  }

  /** Batch convenience: run the same fold over a bounded input and emit
    * EVERY session (the trailing open session included, since bounded
    * input means no more events can arrive). Output-identical to
    * `Sessionize.sessions` — asserted in StatefulSessionizeSpec.
    */
  def sessionizeBatch(
      events: Dataset[SessionEvent],
      gapUs: Long): Dataset[ClosedSession] = {
    implicit val outEnc = Encoders.product[ClosedSession]
    implicit val keyEnc = Encoders.scalaLong
    events
      .groupByKey(_.userId)
      .flatMapGroups { (userId, it) =>
        val (closed, open) = fold(userId, gapUs, None, it.toSeq.sortBy(_.tsUs))
        (closed ++ open.map(s => ClosedSession(userId, s.firstUs, s.lastUs, s.nEvents))).iterator
      }
  }
}
