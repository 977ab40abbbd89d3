package graft.streaming

import org.apache.spark.sql.{Dataset, Encoders}
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** One input event for the streaming transition monitor. `eventId` is the
  * tie-break: same-time events need a total order for the pair direction
  * to be well-defined (the q55/q59 convention).
  */
case class TransitionEvent(userId: Long, eventId: Long, eventType: String, tsUs: Long)

/** Per-user carry-over between micro-batches: the last in-order event. */
case class LastEvent(eventId: Long, eventType: String, tsUs: Long)

/** One observed transition (streaming output row; aggregate downstream
  * into the q59 matrix shape with a plain windowed/total groupBy).
  */
case class Transition(user_id: Long, from_type: String, to_type: String, at_us: Long)

/** Streaming form of [[graft.operators.Cohorts.transitions]]' pair
  * generation: per user, each event emits one (from, to) transition row
  * against the previous event in (time, eventId) order, with one
  * `LastEvent` of state per active user — the live feed a
  * transition-matrix monitor aggregates, where the batch operator is the
  * end-of-day matrix.
  *
  * Ordering semantics, stated honestly (the [[StreamingFunnel]]
  * convention): events are processed in (time, eventId) order within each
  * micro-batch (per-user, per-batch sort), and a LATE event — one at or
  * below the carried last event in that order — is DROPPED, not
  * retro-inserted: bounded state cannot reorder pairs it already emitted.
  * Over a static Dataset [[transitions]] sees everything in full order, so
  * its pairs are the q59 `lead` pairs EXACTLY (pinned in the spec against
  * the registered query); streaming under ordered arrival matches it, and
  * under disorder emits a conservative subset — both pinned too.
  */
object StreamingTransitions {

  private def laterThan(l: LastEvent, e: TransitionEvent): Boolean =
    e.tsUs > l.tsUs || (e.tsUs == l.tsUs && e.eventId > l.eventId)

  private def advance(
      userId: Long, last0: Option[LastEvent], sorted: Seq[TransitionEvent]
  ): (Option[LastEvent], List[Transition]) = {
    var last = last0
    val out = List.newBuilder[Transition]
    sorted.foreach { e =>
      last match {
        case Some(l) if !laterThan(l, e) => () // late: drop, never reorder
        case Some(l) =>
          out += Transition(userId, l.eventType, e.eventType, e.tsUs)
          last = Some(LastEvent(e.eventId, e.eventType, e.tsUs))
        case None =>
          last = Some(LastEvent(e.eventId, e.eventType, e.tsUs))
      }
    }
    (last, out.result())
  }

  /** One transition per in-order event. On a static Dataset
    * `flatMapGroupsWithState` calls the function once per user with empty
    * state, so the whole input runs in full (time, eventId) order —
    * pair-for-pair the q59 `lead` pairs.
    */
  def transitions(events: Dataset[TransitionEvent]): Dataset[Transition] = {
    implicit val stateEnc = Encoders.product[LastEvent]
    implicit val outEnc = Encoders.product[Transition]
    implicit val keyEnc = Encoders.scalaLong
    events
      .groupByKey(_.userId)
      .flatMapGroupsWithState[LastEvent, Transition](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        case (userId, it, state: GroupState[LastEvent]) =>
          val sorted = it.toSeq.sortBy(e => (e.tsUs, e.eventId))
          val (last, emitted) = advance(userId, state.getOption, sorted)
          last.foreach(state.update)
          emitted.iterator
      }
  }
}
