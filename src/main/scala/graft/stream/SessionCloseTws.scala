package graft.stream

import org.apache.spark.sql.{Dataset, Encoders}
import org.apache.spark.sql.streaming.{
  ExpiredTimerInfo, OutputMode, StatefulProcessor, StatefulProcessorHandle,
  TimeMode, TimerValues, TTLConfig}

import SessionClose.{Closed, Event, Open}

/** The session-close state machine ([[SessionClose]]: semantics, types
  * and the per-batch fold) on Spark 4's `transformWithState` API
  * (`StatefulProcessor` + typed `ValueState` + explicit event-time
  * TIMERS) — the successor to the `GroupState` API and the API new
  * stateful pipelines should target.
  *
  * What the API brings operationally, all exercised here:
  *  - state is named and typed (`getValueState("session", …)`) instead
  *    of one opaque blob, so schema evolution is per-variable;
  *  - timeouts are first-class TIMERS (`registerTimer`/`deleteTimer`/
  *    `listTimers`), many per key if wanted, fired via
  *    `handleExpiredTimer` when the watermark reaches them — armed 1 ms
  *    past the floored-millisecond timeout so the close matches the
  *    strict-`<` timeout the oracle mirrors (see [[armCloseTimer]]);
  *  - the operator REQUIRES the RocksDB state store provider, so this
  *    queries riding it certify the RocksDB provider as a side effect.
  *
  * Scale shape: one open session + one timer per active user, pruned
  * as the watermark advances.
  */
object SessionCloseTws {

  /** Arm a session's close timer 1 ms past its timeout, end + gap in
    * floored milliseconds: the oracle times a session out strictly
    * below the watermark, a timer fires at or below it. The max-guard
    * only defends the (event-time-ordered sources: impossible) case of
    * a session already older than the watermark. */
  private def armCloseTimer(handle: StatefulProcessorHandle, lastUs: Long,
      gapMs: Long, timerValues: TimerValues): Unit =
    handle.registerTimer(math.max(Math.floorDiv(lastUs, 1000L) + gapMs,
      timerValues.getCurrentWatermarkInMs() + 1) + 1)

  private class SessionProcessor(gapMinutes: Int)
      extends StatefulProcessor[Long, Event, Closed] {
    private val gapUs = gapMinutes * 60L * 1000000L
    private val gapMs = gapMinutes * 60L * 1000L

    @transient private var session: org.apache.spark.sql.streaming.ValueState[Open] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      session = getHandle.getValueState[Open](
        "session", Encoders.product[Open], TTLConfig.NONE)

    override def handleInputRows(
        userId: Long, rows: Iterator[Event],
        timerValues: TimerValues): Iterator[Closed] = {
      val prior = if (session.exists()) Some(session.get()) else None
      val (closed, s) = SessionClose.foldBatch(userId, prior, rows, gapUs)
      session.update(s)
      // one live timer per key: drop whatever was scheduled for the
      // superseded session end, then arm the new close time
      getHandle.listTimers().foreach(getHandle.deleteTimer)
      armCloseTimer(getHandle, s.lastUs, gapMs, timerValues)
      closed.iterator
    }

    override def handleExpiredTimer(
        userId: Long, timerValues: TimerValues,
        expiredTimerInfo: ExpiredTimerInfo): Iterator[Closed] = {
      // watermark reached the close timer: final emission, state freed
      if (session.exists()) {
        val s = session.get()
        session.clear()
        Iterator.single(SessionClose.emit(userId, s))
      } else Iterator.empty
    }
  }

  /** `events` must carry a watermark on `ts`; requires the RocksDB
    * state store provider (a transformWithState constraint).
    */
  def close(events: Dataset[Event], gapMinutes: Int): Dataset[Closed] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.user_id)
      .transformWithState[Closed](new SessionProcessor(gapMinutes),
        TimeMode.EventTime(), OutputMode.Update())
  }

  /** The EVOLVED (v2) processor: the same session machine PLUS a new
    * `ValueState[Long]` counting the user's session closes. Its purpose
    * is state-SCHEMA-EVOLUTION certification: a checkpoint written by
    * the v1 processor (one state variable) is resumed under this one —
    * the engine must accept the ADDED variable (initialized empty for
    * every key) while the pre-existing "session" state reads back
    * intact. Emissions are byte-identical to v1's, so the evolved
    * restart runs under the unchanged session oracle; the new
    * variable's bookkeeping is certified against the run's own emission
    * count via the state data source.
    */
  private class EvolvedSessionProcessor(gapMinutes: Int)
      extends StatefulProcessor[Long, Event, Closed] {
    private val gapUs = gapMinutes * 60L * 1000000L
    private val gapMs = gapMinutes * 60L * 1000L

    @transient private var session: org.apache.spark.sql.streaming.ValueState[Open] = _
    @transient private var nClosed: org.apache.spark.sql.streaming.ValueState[Long] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
      session = getHandle.getValueState[Open](
        "session", Encoders.product[Open], TTLConfig.NONE)
      // v2's addition — absent from v1 checkpoints, so the engine must
      // evolve the state schema on restart
      nClosed = getHandle.getValueState[Long](
        "nClosed", Encoders.scalaLong, TTLConfig.NONE)
    }

    private def bump(n: Int): Unit = if (n > 0) {
      val prior = if (nClosed.exists()) nClosed.get() else 0L
      nClosed.update(prior + n)
    }

    override def handleInputRows(
        userId: Long, rows: Iterator[Event],
        timerValues: TimerValues): Iterator[Closed] = {
      val prior = if (session.exists()) Some(session.get()) else None
      val (closed, s) = SessionClose.foldBatch(userId, prior, rows, gapUs)
      session.update(s)
      bump(closed.size)
      getHandle.listTimers().foreach(getHandle.deleteTimer)
      armCloseTimer(getHandle, s.lastUs, gapMs, timerValues)
      closed.iterator
    }

    override def handleExpiredTimer(
        userId: Long, timerValues: TimerValues,
        expiredTimerInfo: ExpiredTimerInfo): Iterator[Closed] = {
      if (session.exists()) {
        val s = session.get()
        session.clear()
        bump(1)
        Iterator.single(SessionClose.emit(userId, s))
      } else Iterator.empty
    }
  }

  /** v2 of [[close]] — see [[EvolvedSessionProcessor]]. */
  def closeEvolved(events: Dataset[Event], gapMinutes: Int): Dataset[Closed] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.user_id)
      .transformWithState[Closed](new EvolvedSessionProcessor(gapMinutes),
        TimeMode.EventTime(), OutputMode.Update())
  }

  /** The BOOTSTRAP variant (`StatefulProcessorWithInitialState`): state
    * machine identical to [[SessionProcessor]], but the pipeline STARTS
    * from a batch-computed snapshot — each user's open session arrives
    * as initial state (with its close timer armed in
    * `handleInitialState`) instead of being rebuilt by replaying
    * history. This is the stateful-pipeline migration path: stand up a
    * streaming job mid-history from a warehouse snapshot, with the
    * state a continuous run would have had at that point.
    */
  private class BootstrapSessionProcessor(gapMinutes: Int)
      extends org.apache.spark.sql.streaming.StatefulProcessorWithInitialState[
        Long, Event, Closed, Open] {
    private val gapUs = gapMinutes * 60L * 1000000L
    private val gapMs = gapMinutes * 60L * 1000L

    @transient private var session: org.apache.spark.sql.streaming.ValueState[Open] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      session = getHandle.getValueState[Open](
        "session", Encoders.product[Open], TTLConfig.NONE)

    override def handleInitialState(
        userId: Long, initial: Open, timerValues: TimerValues): Unit = {
      session.update(initial)
      // arm the snapshot session's close timer exactly as a live run
      // would have (initial watermark is 0 — the max-guard is inert)
      armCloseTimer(getHandle, initial.lastUs, gapMs, timerValues)
    }

    override def handleInputRows(
        userId: Long, rows: Iterator[Event],
        timerValues: TimerValues): Iterator[Closed] = {
      val prior = if (session.exists()) Some(session.get()) else None
      val (closed, s) = SessionClose.foldBatch(userId, prior, rows, gapUs)
      session.update(s)
      getHandle.listTimers().foreach(getHandle.deleteTimer)
      armCloseTimer(getHandle, s.lastUs, gapMs, timerValues)
      closed.iterator
    }

    override def handleExpiredTimer(
        userId: Long, timerValues: TimerValues,
        expiredTimerInfo: ExpiredTimerInfo): Iterator[Closed] = {
      if (session.exists()) {
        val s = session.get()
        session.clear()
        Iterator.single(SessionClose.emit(userId, s))
      } else Iterator.empty
    }
  }

  /** [[close]] with batch-snapshot bootstrap: `initial` carries each
    * user's open-session state at the migration point.
    */
  def closeWithBootstrap(
      events: Dataset[Event], initial: Dataset[(Long, Open)],
      gapMinutes: Int): Dataset[Closed] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.user_id)
      .transformWithState[Closed, Open](
        new BootstrapSessionProcessor(gapMinutes),
        TimeMode.EventTime(), OutputMode.Update(),
        initial.groupByKey(_._1).mapValues(_._2))
  }
}
