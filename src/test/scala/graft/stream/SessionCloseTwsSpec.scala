package graft.stream

import java.sql.Timestamp

import graft.SparkFunSuite

/** The transformWithState tier must reproduce the flatMapGroupsWithState
  * tier's sessions EXACTLY on the same chunked stream — both run here on
  * the SessionCloseSpec scenario (successor close, timer close, live
  * tail), tws under the RocksDB provider it requires.
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
      // flatMapGroupsWithState's strict `<` keeps it open, so must tws
      (4L, ts(510), 128.0),
      (99L, ts(600), 64.0))
    val df = rows.toDF("user_id", "ts", "value")
    val root = java.nio.file.Files.createTempDirectory("session_tws").toString

    def run(variant: String): Set[(Long, Timestamp, Long, Double)] = {
      val src = StreamRun.chunkedSource(spark, df, s"$root/src-$variant", 2)
      val ev = src.withWatermark("ts", "1 hour").as[SessionClose.Event]
      val closed =
        if (variant == "tws") SessionCloseTws.close(ev, 30) else SessionClose.close(ev, 30)
      StreamRun.runAvailableNow(closed.toDF(), s"$root/run-$variant",
          StreamRun.Sink.Update, noDataBatch = true)._1
        .select("user_id", "session_start", "n_events", "sum_value")
        .collect()
        .map(r => (r.getLong(0), r.getTimestamp(1), r.getLong(2), r.getDouble(3)))
        .toSet
    }

    val tws = withRocksDb { run("tws") }
    val fmgws = run("fmgws")
    assert(tws == fmgws, s"tws=$tws fmgws=$fmgws")
    assert(tws.size == 4)
    assert(!tws.exists(_._1 == 99L), "the live-tail session must not be emitted")
  }
}
