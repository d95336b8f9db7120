package graft.stream

import graft.SparkFunSuite
import graft.core.Tables
import org.apache.spark.sql.functions._
import java.sql.Timestamp

class EventWindowsSpec extends SparkFunSuite {
  import spark.implicits._

  private def ts(s: String) = Timestamp.valueOf(s)

  test("tumbling windows partition all events exactly once") {
    val ev = Tables.events(spark, sf001)
    val agg = EventWindows.tumbling(ev, "1 hour")
    assert(agg.agg(sum("n_events")).head.getLong(0) == ev.count())
  }

  test("sessions merge at exactly the gap boundary and split just past it") {
    val ev = Seq(
      (1L, ts("2024-01-01 00:00:00"), 1.0),
      (1L, ts("2024-01-01 00:10:00"), 1.0), // same session
      (1L, ts("2024-01-01 00:40:00"), 1.0), // exactly +30m → still MERGED (boundary inclusive)
      (1L, ts("2024-01-01 01:10:00.001"), 1.0), // 30m + 1ms → new session
      (2L, ts("2024-01-01 00:00:00"), 1.0)
    ).toDF("user_id", "ts", "value").withColumn("event_type", lit("x"))
    val got = EventWindows.sessions(ev, "30 minutes")
      .collect().map(r => (r.getLong(1), r.getTimestamp(0), r.getLong(2)))
    assert(got.count(_._1 == 1L) == 2)
    val u1 = got.filter(_._1 == 1L).sortBy(_._2.getTime)
    assert(u1(0)._3 == 3L) // first session: includes the exact-boundary event
    assert(u1(1)._3 == 1L) // second session: the past-boundary event
    assert(got.count(_._1 == 2L) == 1)
  }

  test("sliding windows cover each event width/slide times") {
    val ev = Tables.events(spark, sf001)
    val agg = EventWindows.sliding(ev, "1 hour", "30 minutes")
    assert(agg.agg(sum("n_events")).head.getLong(0) == 2 * ev.count())
  }

  test("streaming tumbling aggregation over the events fixture matches batch") {
    val ev = Tables.events(spark, sf001)
    val stream = EventWindows.readEventStream(spark, s"$sf001/events.parquet")
    assert(stream.isStreaming)
    val agg = EventWindows.tumblingStream(stream, "1 hour", "10 minutes")
    val q = agg.writeStream.format("memory").queryName("tumbling_out")
      .outputMode("complete").start()
    try {
      q.processAllAvailable()
      val streamed = spark.table("tumbling_out")
      val batch = EventWindows.tumbling(ev, "1 hour")
      assert(streamed.count() == batch.count())
      assert(streamed.agg(sum("n_events")).head.getLong(0) == ev.count())
    } finally q.stop()
  }

  test("streaming dedup drops repeated keys within the watermark") {
    val ev = Tables.events(spark, sf001)
    val stream = EventWindows.readEventStream(spark, s"$sf001/events.parquet")
    // duplicate every event by unioning the stream with itself
    val doubled = stream.union(stream)
    val q = EventWindows.dedupStream(doubled, Seq("event_id"), "10 minutes")
      .writeStream.format("memory").queryName("dedup_out")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      assert(spark.table("dedup_out").count() == ev.count())
      assert(spark.table("dedup_out").select("event_id").distinct().count() == ev.count())
    } finally q.stop()
  }

  test("streaming sessionization runs with watermark state cleanup") {
    val stream = EventWindows.readEventStream(spark, s"$sf001/events.parquet")
    val agg = EventWindows.sessionsStream(stream, "30 minutes", "10 minutes")
    val q = agg.writeStream.format("memory").queryName("sessions_out")
      .outputMode("complete").start()
    try {
      q.processAllAvailable()
      assert(spark.table("sessions_out").count() > 0)
    } finally q.stop()
  }
}
