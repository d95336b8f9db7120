package graft.stream

import java.sql.Timestamp

import graft.SparkFunSuite

/** Pins the session-close machine's contract (SessionCloseTws, on the
  * RocksDB provider transformWithState requires) on a controlled
  * two-chunk stream (the fixture-scale certification is
  * events_session_timeout_stream):
  *  - successor close: a later event beyond the gap closes the previous
  *    session in its data batch
  *  - timeout close: sessions the watermark passes are emitted from the
  *    trailing no-data batch, exactly once
  *  - inclusive gap boundary: an event at exactly last + gap merges
  *  - live tail: the session the final watermark never times out is
  *    never emitted
  */
class SessionCloseSpec extends SparkFunSuite {

  private def ts(minutes: Long): Timestamp =
    new Timestamp(1700000000000L + minutes * 60000L)

  test("session machine: successor close, timeout close, live tail") {
    import spark.implicits._
    val rows = Seq(
      // user 1: session A (2 events), then session B two hours later
      (1L, ts(0), 1.0), (1L, ts(10), 2.0), (1L, ts(120), 4.0),
      // user 2: one lone event — closes only via timeout
      (2L, ts(5), 8.0),
      // user 3: second event at EXACTLY last + gap — must merge
      (3L, ts(0), 16.0), (3L, ts(30), 32.0),
      // user 99: stream-end anchor; its own session stays live
      (99L, ts(600), 64.0))
    val df = rows.toDF("user_id", "ts", "value")
    val root = java.nio.file.Files.createTempDirectory("session_close").toString

    val src = StreamRun.chunkedSource(spark, df, s"$root/src", 2)
    val ev = src.withWatermark("ts", "1 hour").as[SessionClose.Event]
    val (res, stats) = StreamRun.runAvailableNowUpdateObserved(
      SessionCloseTws.close(ev, gapMinutes = 30).toDF(), s"$root/run",
      noDataBatch = true)

    val got = res.select("user_id", "session_start", "n_events", "sum_value", "batch_id")
      .collect().map(r => (r.getLong(0), r.getTimestamp(1), r.getLong(2),
        r.getDouble(3), r.getLong(4))).toSet
    val byKey = got.map { case (u, st, n, v, _) => (u, st, n, v) }
    // final watermark = ts(600) - 1h = ts(540): u1 A+B, u2, u3 all time
    // out below it; u99's session (timeout ts(630)) never does
    assert(byKey == Set(
      (1L, ts(0), 2L, 3.0), (1L, ts(120), 1L, 4.0),
      (2L, ts(5), 1L, 8.0),
      (3L, ts(0), 2L, 48.0)), s"got $byKey")

    // the trailing no-data batch exists and carries every timeout close
    // that was still pending after the last data batch
    val last = stats.last
    assert(last.inputRows == 0L, s"stats=$stats")
    val noDataEmits = got.filter(_._5 == last.batchId).map(_._1)
    assert(noDataEmits.nonEmpty, "no-data batch must emit pending timeouts")
    // u1 session A closes in a DATA batch (its successor arrives there)
    val aBatch = got.find { case (u, st, _, _, _) => u == 1L && st == ts(0) }.get._5
    assert(aBatch < last.batchId, "successor close must come from a data batch")
  }
}
