package graft.stream

import java.sql.Timestamp

import graft.SparkFunSuite

/** The transformWithState session machine must emit exactly the
  * sessions the retired flatMapGroupsWithState tier emitted on the same
  * chunked stream (successor close, timer close, live tail): that
  * tier's output, recorded when both ran side by side, is pinned here
  * as a literal. tws runs under the RocksDB provider it requires.
  */
class SessionCloseTwsSpec extends SparkFunSuite {

  private def ts(minutes: Long): Timestamp =
    new Timestamp(1700000000000L + minutes * 60000L)

  test("transformWithState sessions == flatMapGroupsWithState sessions") {
    import spark.implicits._
    val rows = Seq(
      (1L, ts(0), 1.0), (1L, ts(10), 2.0), (1L, ts(120), 4.0),
      (2L, ts(5), 8.0),
      (3L, ts(0), 16.0), (3L, ts(30), 32.0),
      // session end + gap = 540 min = the final watermark (600 min - 1 h):
      // flatMapGroupsWithState's strict `<` kept it open, so must tws
      (4L, ts(510), 128.0),
      (99L, ts(600), 64.0))
    val df = rows.toDF("user_id", "ts", "value")
    val root = java.nio.file.Files.createTempDirectory("session_tws").toString

    val src = StreamRun.chunkedSource(spark, df, s"$root/src", 2)
    val ev = src.withWatermark("ts", "1 hour").as[SessionClose.Event]
    val tws = StreamRun.runAvailableNow(SessionCloseTws.close(ev, 30).toDF(), s"$root/run",
        StreamRun.Sink.Update, noDataBatch = true)._1
      .select("user_id", "session_start", "n_events", "sum_value")
      .collect()
      .map(r => (r.getLong(0), r.getTimestamp(1), r.getLong(2), r.getDouble(3)))
      .toSet
    // both tiers' emissions at the time the flatMapGroupsWithState tier
    // was retired; users 4 and 99 stay open
    val flatMapGroupsWithState = Set(
      (1L, ts(0), 2L, 3.0), (1L, ts(120), 1L, 4.0),
      (2L, ts(5), 1L, 8.0),
      (3L, ts(0), 2L, 48.0))
    assert(tws == flatMapGroupsWithState, s"tws=$tws")
  }
}
