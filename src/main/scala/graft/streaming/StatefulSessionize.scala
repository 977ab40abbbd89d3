package graft.streaming

import org.apache.spark.sql.{Dataset, Encoders}
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** One input event for the stateful sessionizer. */
case class SessionEvent(userId: Long, tsUs: Long)

/** Per-user open-session state carried between micro-batches. */
case class SessionState(firstUs: Long, lastUs: Long, nEvents: Long)

/** One closed session (same shape as `Sessionize.sessionsBatch` output). */
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
          val sorted = it.toSeq.sortBy(_.tsUs)
          var open = state.getOption
          val closed = Seq.newBuilder[ClosedSession]
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
          open.foreach(state.update)
          closed.result().iterator
      }
  }

  /** Batch convenience: run the same stateful logic over a bounded input
    * and emit EVERY session (the trailing open session included, since
    * bounded input means no more events can arrive). Output-identical to
    * `Sessionize.sessionsBatch` — asserted in StatefulSessionizeSpec.
    */
  def sessionizeBatch(
      events: Dataset[SessionEvent],
      gapUs: Long): Dataset[ClosedSession] = {
    implicit val outEnc = Encoders.product[ClosedSession]
    implicit val keyEnc = Encoders.scalaLong
    events
      .groupByKey(_.userId)
      .flatMapGroups { (userId, it) =>
        val sorted = it.toSeq.sortBy(_.tsUs)
        val sessions = Seq.newBuilder[ClosedSession]
        var open: Option[SessionState] = None
        sorted.foreach { e =>
          open match {
            case Some(s) if e.tsUs <= s.lastUs + gapUs =>
              open = Some(SessionState(s.firstUs, math.max(s.lastUs, e.tsUs), s.nEvents + 1))
            case Some(s) =>
              sessions += ClosedSession(userId, s.firstUs, s.lastUs, s.nEvents)
              open = Some(SessionState(e.tsUs, e.tsUs, 1))
            case None =>
              open = Some(SessionState(e.tsUs, e.tsUs, 1))
          }
        }
        open.foreach(s => sessions += ClosedSession(userId, s.firstUs, s.lastUs, s.nEvents))
        sessions.result().iterator
      }
  }
}
