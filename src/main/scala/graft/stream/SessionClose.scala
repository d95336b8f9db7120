package graft.stream

import java.sql.Timestamp

/** The watermark-driven session-close machine's types and per-batch
  * fold; [[SessionCloseTws]] runs it on `transformWithState`.
  *
  * Semantics: per-user gap sessions, identical to
  * [[EventWindows.sessions]] (inclusive gap boundary — an event at
  * exactly last_ts + gap still merges), but each session is emitted
  * EXACTLY ONCE, at the moment it provably can no longer grow:
  *
  *  - in a data batch, when a later event from the same user arrives
  *    more than `gap` after the session's end (the successor close), or
  *  - when the WATERMARK passes the session's end + gap (the timeout
  *    close) — fired by the engine with no input for the key, which on
  *    a bounded AvailableNow run requires the trailing no-data
  *    micro-batch.
  *
  * A session whose timeout the final watermark (max event time −
  * lateness) never passes stays open in the state store and is never
  * emitted — the bounded-run analogue of "still live at query stop",
  * encoded explicitly in the DuckDB oracle.
  *
  * Scale shape: state is one open session per active user — O(distinct
  * users within the gap+lateness horizon), NOT O(events) — and the
  * engine prunes timed-out entries every watermark advance, so a
  * year-long run holds only the live tail.
  */
object SessionClose {

  case class Event(user_id: Long, ts: Timestamp, value: Double)

  /** Open-session state: event time in epoch MICROseconds
    * (Timestamp.getTime truncates to ms — same rationale as
    * SessionTracker).
    */
  case class Open(startUs: Long, lastUs: Long, nEvents: Long, sumValue: Double)

  case class Closed(
      session_start: Timestamp, user_id: Long, n_events: Long, sum_value: Double)

  private[stream] def toMicros(t: Timestamp): Long = {
    val i = t.toInstant
    i.getEpochSecond * 1000000L + i.getNano / 1000L
  }
  private def fromMicros(us: Long): Timestamp =
    Timestamp.from(java.time.Instant.ofEpochSecond(
      Math.floorDiv(us, 1000000L), Math.floorMod(us, 1000000L) * 1000L))

  private[stream] def emit(userId: Long, s: Open): Closed =
    Closed(fromMicros(s.startUs), userId, s.nEvents,
      math.round(s.sumValue * 100).toDouble / 100)

  /** The per-batch session fold of every [[SessionCloseTws]] processor
    * (plain, evolved and bootstrapped). Restores event-time order (the
    * batch iterator has no ordering contract — bounded per user per
    * trigger), closes every session a successor event proves expired,
    * and returns the still-open tail.
    */
  private[stream] def foldBatch(
      userId: Long, prior: Option[Open], batch: Iterator[Event],
      gapUs: Long): (List[Closed], Open) = {
    val sorted = batch.toIndexedSeq.sortBy(e => toMicros(e.ts))
    // contract: the engine only invokes the non-timed-out handler when
    // the key has rows this trigger OR state exists — the trailing
    // `cur.get` relies on it, so name the contract instead of NSEE.
    require(prior.nonEmpty || sorted.nonEmpty,
      s"foldBatch(user=$userId) called with no prior state and an empty " +
        "batch: non-timed-out stateful invocations must carry rows")
    var closed = List.empty[Closed]
    var cur = prior
    sorted.foreach { e =>
      val us = toMicros(e.ts)
      cur = cur match {
        case Some(s) if us - s.lastUs > gapUs =>
          closed ::= emit(userId, s)
          Some(Open(us, us, 1L, e.value))
        case Some(s) =>
          Some(Open(s.startUs, math.max(s.lastUs, us),
            s.nEvents + 1, s.sumValue + e.value))
        case None =>
          Some(Open(us, us, 1L, e.value))
      }
    }
    (closed.reverse, cur.get)
  }
}
