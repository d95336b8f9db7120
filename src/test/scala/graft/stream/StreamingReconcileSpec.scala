package graft.stream

import java.sql.Timestamp

import graft.SparkFunSuite
import org.apache.spark.sql.Row
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

case class Ev(user_id: Long, ts: Timestamp, event_type: String, value: Double)
case class Doc(doc_id: Long, text: String)

class StreamingReconcileSpec extends SparkFunSuite {
  import spark.implicits._

  private def ts(s: String) = Timestamp.valueOf(s)

  test("foreachBatch reconcile flags only diverging groups, incrementally") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Ev]
    // target expects 2 clicks and 1 view
    val target = Seq(("click", 2L), ("view", 1L)).toDF("event_type", "cnt")
    val seen = scala.collection.mutable.ArrayBuffer.empty[(String, Long, Any)]
    val dir = java.nio.file.Files.createTempDirectory("sr-ckpt").toString
    // AvailableNow snapshots the available offsets at start() — feed the
    // increment first, then run the query to completion.
    input.addData(
      Ev(1, ts("2024-01-01 10:00:00"), "click", 1.0),
      Ev(2, ts("2024-01-01 10:01:00"), "view", 1.0))
    val q = StreamingReconcile.start(
      input.toDF(), "event_type", target,
      (rows: Array[Row]) => seen.synchronized {
        rows.foreach(r => seen += ((r.getString(0), r.getLong(1), r.get(2))))
      }, dir)
    try {
      q.awaitTermination()
      // click is at 1 of 2 → mismatch; view matches (1 of 1) → silent
      assert(seen.toList == List(("click", 1L, 2L)))
    } finally q.stop()

    // second increment: clicks reach target, a scroll group appears that
    // the target has never heard of
    seen.clear()
    input.addData(
      Ev(3, ts("2024-01-01 10:02:00"), "click", 1.0),
      Ev(4, ts("2024-01-01 10:03:00"), "scroll", 1.0))
    val q2 = StreamingReconcile.start(
      input.toDF(), "event_type", target,
      (rows: Array[Row]) => seen.synchronized {
        rows.foreach(r => seen += ((r.getString(0), r.getLong(1), r.get(2))))
      }, dir)
    try {
      q2.awaitTermination()
      // update mode: only changed groups surface; click now matches
      // (silent) and the unexpected group reports a null target count
      assert(seen.toList == List(("scroll", 1L, null)))
    } finally q2.stop()
  }

  test("streaming simhash dedup flags near-dups of the static corpus only") {
    implicit val sqlCtx = spark.sqlContext
    import graft.ext.Dedup
    val corpus = Seq(
      (100L, "the quick brown fox jumps over the lazy dog again and again today"),
      (200L, "completely different text about distributed query engines and shuffles")
    ).toDF("doc_id", "text")
    val in = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[Doc]
    val matches = Dedup.streamSimhashMatches(
      in.toDF(), corpus, "doc_id", "text", maxHamming = 3)
    val q = matches.writeStream.format("memory").queryName("ingest_dedup")
      .outputMode("append").start()
    try {
      in.addData(
        // near-dup of corpus doc 100 (one word changed)
        Doc(1L, "the quick brown fox jumps over the lazy cat again and again today"),
        // novel document
        Doc(2L, "unrelated musings on watermark semantics in stream processing"))
      q.processAllAvailable()
      val got = spark.table("ingest_dedup")
        .select("in_id", "corpus_id").as[(Long, Long)].collect().toSet
      assert(got == Set((1L, 100L)))
    } finally q.stop()
  }

  test("streaming contamination screen flags benchmark-overlapping ingest only") {
    implicit val sqlCtx = spark.sqlContext
    import graft.ext.Curation
    // update mode: the per-doc shared-shingle count is a streaming
    // aggregation over a stream-static broadcast join — stateless join,
    // per-doc state only (the same shape scales to an unbounded ingest)
    val bench = Seq(
      (900L, "alpha beta gamma delta epsilon zeta eta theta iota kappa")
    ).toDF("doc_id", "text")
    val in = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[Doc]
    val screened = Curation.contaminationScreen(
      in.toDF(), bench, "doc_id", "text", n = 8)
    val q = screened.writeStream.format("memory").queryName("contam")
      .outputMode("update").start()
    try {
      in.addData(
        // contains the benchmark's first 8-gram verbatim
        Doc(1L, "alpha beta gamma delta epsilon zeta eta theta wholly new tail"),
        // disjoint vocabulary
        Doc(2L, "totally novel words that share nothing with the benchmark set"))
      q.processAllAvailable()
      val got = spark.table("contam")
        .select("doc_id").as[Long].collect().toSet
      assert(got == Set(1L))
    } finally q.stop()
  }

  test("stream-stream interval join pairs events within the window, bounded state") {
    implicit val sqlCtx = spark.sqlContext
    val a = MemoryStream[Ev]
    val b = MemoryStream[Ev]
    val joined = EventWindows.correlateStreams(
      a.toDF(), b.toDF(), "user_id", "10 MINUTES", "1 minute")
    val q = joined.writeStream.format("memory").queryName("corr")
      .outputMode("append").start()
    try {
      a.addData(Ev(1, ts("2024-01-01 10:00:00"), "login", 0))
      b.addData(
        Ev(1, ts("2024-01-01 10:05:00"), "purchase", 0), // within 10m
        Ev(1, ts("2024-01-01 10:20:00"), "purchase", 0), // outside
        Ev(2, ts("2024-01-01 10:01:00"), "purchase", 0)) // other user
      q.processAllAvailable()
      val got = spark.table("corr")
        .select("user_id", "type_left", "type_right")
        .as[(Long, String, String)].collect().toSet
      assert(got == Set((1L, "login", "purchase")))
      assert(spark.table("corr").count() == 1)
    } finally q.stop()
  }
}
