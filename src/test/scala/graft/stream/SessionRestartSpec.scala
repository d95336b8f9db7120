package graft.stream

import java.sql.Timestamp

import graft.SparkFunSuite

/** Pins update-mode checkpoint recovery for the transformWithState
  * session machine on the SessionCloseSpec scenario split across a
  * stop/restart: the boundary user's session spans the stop (run 1
  * ends mid-session), so the final emission set equals the no-restart
  * answer ONLY if open-session state and its registered timer survive
  * the checkpoint. Runs under RocksDB (a transformWithState
  * requirement); fixture-scale twin: events_session_restart_tws.
  */
class SessionRestartSpec extends SparkFunSuite {

  private def ts(minutes: Long): Timestamp =
    new Timestamp(1700000000000L + minutes * 60000L)

  test("open session and timer survive stop/restart") {
    import spark.implicits._
    val early = Seq(
      (1L, ts(0), 1.0), (1L, ts(10), 2.0),   // u1 session A, still open at stop
      (2L, ts(5), 8.0))                       // u2 lone event, timer pending
      .toDF("user_id", "ts", "value")
    val late = Seq(
      (1L, ts(20), 4.0),   // continues u1's session A across the restart
      (1L, ts(120), 16.0), // closes A by successor, opens B
      (99L, ts(600), 64.0) // stream-end anchor; its session stays live
    ).toDF("user_id", "ts", "value")
    val root = java.nio.file.Files.createTempDirectory("session_restart").toString

    val (res, run1, run2) = withRocksDb {
      StreamRun.runRestart(
        early, late,
        src => SessionCloseTws.close(
          src.withWatermark("ts", "1 hour").as[SessionClose.Event],
          gapMinutes = 30).toDF(),
        s"$root/run", StreamRun.Sink.Update, chunksPerPhase = 1)
    }

    val got = res.select("user_id", "session_start", "n_events", "sum_value")
      .collect().map(r => (r.getLong(0), r.getTimestamp(1), r.getLong(2),
        r.getDouble(3))).toSet
    // u1 session A must span the restart: 3 events (2 from run 1 + the
    // run-2 continuation) — only possible from restored state; B and
    // u2's session close via run 2's watermark; u99 stays live
    assert(got == Set(
      (1L, ts(0), 3L, 7.0), (1L, ts(120), 1L, 16.0),
      (2L, ts(5), 1L, 8.0)), s"got $got")
    assert(run1.nonEmpty && run2.nonEmpty)
  }
}
