package graft.stream

import java.sql.Timestamp

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkFunSuite
import graft.core.Tables
import graft.stream.StreamRun.Sink

/** Bounded micro-batch executions (StreamRun): the streaming engine must
  * reproduce the batch aggregation (complete mode), honor watermark
  * eviction (append mode), and the chunked source must deliver files in
  * event-time order — the three properties the oracle queries
  * events_windowed_stream / events_windowed_stream_append certify at
  * fixture scale, pinned here with exact boundary cases.
  */
class StreamRunSpec extends SparkFunSuite {

  private def tmp(name: String): String =
    java.nio.file.Files.createTempDirectory(name).toString

  test("complete-mode bounded run over chunked files equals the batch aggregation") {
    val ev = Tables.events(spark, sf001)
    val root = tmp("streamrun_c")
    val src = StreamRun.chunkedSource(spark, ev, s"$root/src", 4)
    val got = StreamRun.runAvailableNow(
      EventWindows.tumblingStream(src, "1 hour", "1 hour"), s"$root/run", Sink.Complete)._1
    val want = EventWindows.tumbling(ev, "1 hour")
    assert(got.exceptAll(want).count() == 0 && want.exceptAll(got).count() == 0)
    assert(got.count() == want.count())
  }

  test("append-mode run emits exactly the watermark-finalized windows, once each") {
    val ev = Tables.events(spark, sf001)
    val root = tmp("streamrun_a")
    val src = StreamRun.chunkedSource(spark, ev, s"$root/src", 4)
    val got = StreamRun.runAvailableNow(
      EventWindows.tumblingStream(src, "1 hour", "1 hour"), s"$root/run", Sink.Append)._1
    val wm = new Timestamp(
      ev.agg(max(col("ts"))).head.getTimestamp(0).getTime - 3600 * 1000L)
    val want = EventWindows.tumbling(ev, "1 hour")
      .filter(col("window_start") + expr("INTERVAL 1 HOUR") <= lit(wm))
    // multiset equality: a window emitted at two triggers (eviction
    // broken) would duplicate and fail exceptAll in one direction
    assert(got.exceptAll(want).count() == 0 && want.exceptAll(got).count() == 0)
    assert(got.count() > 0 && got.count() < EventWindows.tumbling(ev, "1 hour").count())
  }

  test("append-mode boundary: a window whose end EQUALS the final watermark is emitted") {
    import spark.implicits._
    // max ts exactly 04:00:00 → final watermark 03:00:00; window
    // [02:00, 03:00) has end == watermark — the inclusive boundary the
    // oracle SQL (window_start + 1h <= wm) assumes
    def t(h: Int, m: Int): Timestamp = Timestamp.valueOf(f"2024-01-01 $h%02d:$m%02d:00")
    val rows = Seq(
      (1L, t(0, 30), "a", 1.0), (2L, t(1, 30), "a", 1.0),
      (3L, t(2, 30), "a", 1.0), (4L, t(4, 0), "a", 1.0))
    val ev = rows.toDF("event_id", "ts", "event_type", "value")
    val root = tmp("streamrun_b")
    val src = StreamRun.chunkedSource(spark, ev, s"$root/src", 2)
    val got = StreamRun.runAvailableNow(
      EventWindows.tumblingStream(src, "1 hour", "1 hour"), s"$root/run", Sink.Append)._1
    val starts = got.select(col("window_start").cast("string")).as[String].collect().toSet
    assert(starts.contains("2024-01-01 02:00:00"), s"boundary window missing: $starts")
    assert(!starts.contains("2024-01-01 03:00:00"), s"unfinalized window emitted: $starts")
    assert(!starts.contains("2024-01-01 04:00:00"), s"unfinalized window emitted: $starts")
  }

  test("session state merges across micro-batches into one session") {
    import spark.implicits._
    // one user, 4 events 10 min apart (gap 30 min) — the range split
    // puts the first two in chunk 1 and the rest in chunk 2, so the
    // state store must FUSE the open session from batch 1 with batch
    // 2's continuation; a broken merge yields 2 sessions
    def t(h: Int, m: Int) = Timestamp.valueOf(f"2024-01-01 $h%02d:$m%02d:00")
    val ev = Seq(
      (1L, t(1, 0), "a", 1.0), (2L, t(1, 10), "a", 1.0),
      (3L, t(1, 20), "a", 1.0), (4L, t(1, 30), "a", 1.0))
      .toDF("event_id", "ts", "event_type", "value")
      .withColumn("user_id", lit(42L))
    val root = tmp("streamrun_m")
    val src = StreamRun.chunkedSource(spark, ev, s"$root/src", 2)
    val got = StreamRun.runAvailableNow(
      EventWindows.sessionsStream(src, "30 minutes", "1 hour"),
      s"$root/run", Sink.Complete)._1.collect()
    assert(got.length == 1, s"expected one merged session, got ${got.toSeq}")
    assert(got(0).getAs[Long]("n_events") == 4L)
  }

  test("update-mode run ships per-trigger deltas that converge to the batch counts") {
    val ev = Tables.events(spark, sf001)
    val root = tmp("streamrun_u")
    val src = StreamRun.chunkedSource(spark, ev, s"$root/src", 4)
    val (log, _) = StreamRun.runAvailableNow(
      StreamingReconcile.runningCounts(src, "event_type"), s"$root/run", Sink.Update)
    // a group updates at most once per trigger
    val perBatch = log.groupBy(col("event_type"), col("batch_id"))
      .agg(count(lit(1)).as("n")).agg(max(col("n"))).head.getLong(0)
    assert(perBatch == 1L, "a group updated twice within one trigger")
    // running counts are monotone in batch_id within a group
    import spark.implicits._
    val nonMonotone = log.select(col("event_type"), col("batch_id"), col("cnt"))
      .as[(String, Long, Long)].collect().groupBy(_._1).values
      .count(rows => rows.sortBy(_._2).map(_._3).sliding(2)
        .exists(p => p.length == 2 && p(0) >= p(1)))
    assert(nonMonotone == 0, "running count must strictly grow across updates")
    // the latest update per group = the true batch count
    val finalCounts = log.groupBy(col("event_type"))
      .agg(max_by(col("cnt"), col("batch_id")).as("cnt"))
    val want = ev.groupBy(col("event_type")).agg(count(lit(1)).as("cnt"))
    assert(finalCounts.exceptAll(want).count() == 0 &&
      want.exceptAll(finalCounts).count() == 0)
  }

  test("custom state accumulates across micro-batches, never resets") {
    import spark.implicits._
    // one user with events in every chunk: the flatMapGroupsWithState
    // fold must carry prior state into each batch — a reset shows up as
    // a final n_events equal to the LAST chunk's count, not the total
    def t(h: Int): Timestamp = Timestamp.valueOf(f"2024-01-01 $h%02d:00:00")
    val ev = (1 to 8).map(h => (h.toLong, t(h), "a", 1.5))
      .toDF("event_id", "ts", "event_type", "value")
      .withColumn("user_id", lit(7L))
    val root = tmp("streamrun_s")
    val src = StreamRun.chunkedSource(spark, ev, s"$root/src", 4)
    val tracked = SessionTracker.track(spark,
      src.select(col("user_id"), col("ts"), col("value"))
        .as[SessionTracker.Event]).toDF()
    val (log, _) = StreamRun.runAvailableNow(tracked, s"$root/run", Sink.Update)
    // one emission per batch the user appeared in, monotone n_events
    assert(log.count() == 4)
    val ns = log.orderBy(col("batch_id")).select(col("n_events"))
      .as[Long].collect().toSeq
    assert(ns == Seq(2L, 4L, 6L, 8L), s"state must accumulate: $ns")
    val fin = log.orderBy(col("batch_id").desc).head
    assert(fin.getAs[Double]("total_value") == 12.0)
    assert(fin.getAs[Timestamp]("last_ts") == t(8))
  }

  test("update-mode no-data batch is result-neutral for NoTimeout state") {
    // the documented contract behind Sink.Update's default:
    // for emission-on-data queries the trailing no-data micro-batch
    // must not add, drop, or change any emitted row — so the two
    // settings produce identical update logs (an EventTimeTimeout
    // caller is the one shape that NEEDS the extra batch; this pins
    // that flipping the knob is safe everywhere else)
    val ev = Tables.events(spark, sf001)
    val root = tmp("streamrun_nd")
    def src() = StreamRun.chunkedSource(spark, ev, s"$root/src", 4)
    val (off, _) = StreamRun.runAvailableNow(
      StreamingReconcile.runningCounts(src(), "event_type"), s"$root/off", Sink.Update)
    val (on, _) = StreamRun.runAvailableNow(
      StreamingReconcile.runningCounts(src(), "event_type"), s"$root/on",
      Sink.Update, noDataBatch = true)
    assert(off.exceptAll(on).count() == 0 && on.exceptAll(off).count() == 0,
      "no-data batch changed the update log for a NoTimeout query")
  }

  test("a replayed batch id overwrites its own partition — sink stays exactly-once") {
    import spark.implicits._
    // foreachBatch is at-least-once: a crash between sink write and
    // checkpoint commit replays the batch with the SAME id. The
    // partition-keyed overwrite must absorb the replay (same rows once),
    // and a plain append sink would not — pinned by writing batch 1
    // twice, including a changed-payload replay (the retry REPLACES the
    // partial first attempt, it does not merge with it).
    val root = tmp("streamrun_i")
    val sink = s"$root/result"
    StreamRun.writeBatchPartition(Seq(("a", 1L), ("b", 2L)).toDF("k", "v"), sink, 0L)
    StreamRun.writeBatchPartition(Seq(("c", 3L)).toDF("k", "v"), sink, 1L)
    // replay of batch 1: first attempt was partial (one row lost), the
    // retry carries the full batch
    StreamRun.writeBatchPartition(Seq(("c", 3L), ("d", 4L)).toDF("k", "v"), sink, 1L)
    val got = spark.read.parquet(sink).select(col("k"), col("v"))
      .as[(String, Long)].collect().toSet
    assert(got == Set(("a", 1L), ("b", 2L), ("c", 3L), ("d", 4L)),
      s"replayed batch must overwrite, not append: $got")
  }

  test("stream-static enrichment emits each event exactly once across triggers") {
    val ev = Tables.events(spark, sf001)
    val dim = Tables.customer(spark, sf001)
      .select(col("c_custkey"), col("c_mktsegment"))
    val root = tmp("streamrun_e")
    val src = StreamRun.chunkedSource(spark, ev, s"$root/src", 4)
    val got = StreamRun.runAvailableNow(
      EventWindows.enrichStream(src, dim, "user_id", "c_custkey"),
      s"$root/run", Sink.Append)._1
    val want = EventWindows.enrichStream(ev, dim, "user_id", "c_custkey")
    // multiset equality: a micro-batch emitted twice (or dropped)
    // leaves a residue in one exceptAll direction
    assert(got.exceptAll(want).count() == 0 && want.exceptAll(got).count() == 0)
    // exactly-once at the key level, independent of any downstream
    // rollup's dtype: every joined event appears in the sink once —
    // this cannot hide behind an oracle-side hash quirk
    val joinedInput = want.count()
    assert(got.select(col("event_id")).distinct().count() == joinedInput &&
      got.count() == joinedInput,
      "enrich sink must carry each joined event exactly once")
    // the static side must ride a broadcast join in the batch form (the
    // per-trigger incremental plans re-use the same join strategy)
    val plan = want.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), s"dim join must broadcast:\n$plan")
  }

  test("checkpoint restart: a resumed query restores state and reads only new files") {
    // The recovery contract a production deployment leans on: stop a
    // stateful query, land more files, restart against the SAME
    // checkpoint — the engine must resume batch numbering (state
    // restored, committed batches not reprocessed) and the final result
    // must equal the batch aggregation over everything ever arrived.
    val ev = Tables.events(spark, sf001)
    val mid = new Timestamp(
      (ev.agg(min(col("ts"))).head.getTimestamp(0).getTime +
        ev.agg(max(col("ts"))).head.getTimestamp(0).getTime) / 2)
    val early = ev.filter(col("ts") < lit(mid))
    val root = tmp("streamrun_ckpt")
    // runRestart itself requires batch-id resumption and
    // late-files-only input — a violation aborts the run loudly
    val (got, first, second) = StreamRun.runRestart(
      early, ev.filter(col("ts") >= lit(mid)),
      src => EventWindows.tumblingStream(src, "1 hour", "1 hour"),
      s"$root/run", Sink.Complete)
    assert(first.map(_.inputRows).sum == early.count(),
      "run 1 must drain the early files")
    // state restoration evidence from the engine's own progress trail:
    // run 2 opens with AT LEAST run 1's window state (complete mode
    // never evicts) — a reset-to-empty store would show fewer rows
    assert(second.head.stateRows >= first.last.stateRows,
      s"state must survive the restart: run1=$first run2=$second")
    // restored state + new arrivals converge to the full batch answer —
    // windows straddling the stop/restart boundary prove state survival
    val want = EventWindows.tumbling(ev, "1 hour")
    assert(got.exceptAll(want).count() == 0 && want.exceptAll(got).count() == 0)
  }

  test("live ProcessingTime run reproduces the AvailableNow append answer") {
    val ev = Tables.events(spark, sf001)
    val root = tmp("streamrun_live")
    val (gotWithId, stats) = StreamRun.runProcessingTimeLive(
      ev, src => EventWindows.tumblingStream(src, "1 hour", "1 hour"),
      s"$root/run")
    val got = gotWithId.drop("batch_id")
    // the runner already requires full drain + one-chunk-per-trigger
    // discovery; here the RESULT must equal the bounded twin's — the
    // watermark-finalized windows, each exactly once
    val wm = new Timestamp(
      ev.agg(max(col("ts"))).head.getTimestamp(0).getTime - 3600 * 1000L)
    val want = EventWindows.tumbling(ev, "1 hour")
      .filter(col("window_start") + expr("INTERVAL 1 HOUR") <= lit(wm))
    assert(got.exceptAll(want).count() == 0 && want.exceptAll(got).count() == 0)
    // finalization fired from a no-data batch the ENGINE scheduled (no
    // AvailableNow trailer exists on a live run)
    val dataMax = stats.filter(_.inputRows > 0).map(_.batchId).max
    assert(stats.exists(t => t.inputRows == 0 && t.batchId > dataMax),
      s"engine must run a no-data batch after the last arrival: $stats")
  }

  test("a live run whose query fails ends at once with the query's failure") {
    val ev = Tables.events(spark, sf001)
    val root = tmp("streamrun_live_fail")
    val t0 = System.nanoTime()
    val e = intercept[Exception] {
      StreamRun.runProcessingTimeLive(
        ev, src => src.withColumn("boom", raise_error(lit("live query failed")).cast("string")),
        s"$root/run")
    }
    val secs = (System.nanoTime() - t0) / 1e9
    val causes = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null).toSeq
    assert(causes.exists(c => String.valueOf(c.getMessage).contains("live query failed")),
      s"the query's own failure must surface: $e")
    // the live deadline is 120 s: a run that waits it out never noticed
    // that its query had died
    assert(secs < 30, f"the failure surfaced only after $secs%.1f s")
  }

  test("each sink keeps its no-data batch default and its batch_id column") {
    val ev = Tables.events(spark, sf001)
    val root = tmp("streamrun_sinks")
    def src() = StreamRun.chunkedSource(spark, ev, s"$root/src", 4)
    def windows() = EventWindows.tumblingStream(src(), "1 hour", "1 hour")
    // the watermarked dedup asks for a no-data batch in any output mode
    // (a complete-mode aggregation alone never does), so Complete's
    // forced-off shows in the trail
    def dedupCounts() = src().withWatermark("ts", "1 hour")
      .dropDuplicates("event_id", "ts").groupBy("event_type").count()
    // (label, query, sink, noDataBatch passed, ends in a no-data batch,
    // batch_id read back)
    val cases = Seq[(String, DataFrame, Sink, Option[Boolean], Boolean, Boolean)](
      ("complete", dedupCounts(), Sink.Complete, None, false, false),
      ("complete, no-data batch asked for", dedupCounts(), Sink.Complete, Some(true),
        false, false),
      ("append", windows(), Sink.Append, None, true, false),
      ("update", windows(), Sink.Update, None, false, true),
      ("per-batch", src(), Sink.PerBatch((b, _) => b.groupBy("event_type").count()), None,
        false, true))
    for (((label, query, sink, noData, endsNoData, hasBatchId), i) <- cases.zipWithIndex) {
      val (res, stats) = noData match {
        case Some(on) => StreamRun.runAvailableNow(query, s"$root/run$i", sink, on)
        case None => StreamRun.runAvailableNow(query, s"$root/run$i", sink)
      }
      assert((stats.last.inputRows == 0L) == endsNoData, s"$label: $stats")
      assert(res.columns.contains("batch_id") == hasBatchId,
        s"$label: ${res.columns.toSeq}")
    }
  }

  test("RocksDB changelog checkpointing leaves changelog files in the checkpoint") {
    val ev = Tables.events(spark, sf001)
    val root = tmp("streamrun_clog")
    val src = StreamRun.chunkedSource(spark, ev, s"$root/src", 4)
    StreamRun.runAvailableNow(
      EventWindows.tumblingStream(src, "1 hour", "1 hour"),
      s"$root/run", Sink.Complete)
    // the conf being set is not the certification — the OBSERVED
    // checkpoint layout is: per-commit .changelog deltas (and not a
    // full .zip snapshot per batch, which is what the conf replaces)
    val stream = java.nio.file.Files.walk(
      java.nio.file.Paths.get(s"$root/run/ckpt/state"))
    val names =
      try {
        val it = stream.iterator()
        val buf = scala.collection.mutable.ArrayBuffer.empty[String]
        while (it.hasNext) buf += it.next().getFileName.toString
        buf.toSeq
      } finally stream.close()
    val changelogs = names.count(_.endsWith(".changelog"))
    val snapshots = names.count(_.endsWith(".zip"))
    assert(changelogs >= 4,
      s"expected per-batch changelog files, found $changelogs " +
        s"(snapshots: $snapshots) in ${names.take(30)}")
    assert(changelogs > snapshots,
      "changelog checkpointing must replace per-batch snapshot uploads")
  }

  test("a repeated stream run compiles no new class") {
    import spark.implicits._
    import org.apache.spark.metrics.source.CodegenMetrics
    val root = tmp("streamrun_reuse")
    val src = StreamRun.chunkedSource(spark, Tables.events(spark, sf001), s"$root/src", 2)
    val ev = src.select(col("user_id"), col("ts"), col("value"))
      .withWatermark("ts", "1 hour").as[SessionClose.Event]
    // each run clones the session and gets its own checkpoint; the
    // second one's generated classes must all come from the cache
    def run(i: Int): Long =
      StreamRun.runAvailableNow(SessionCloseTws.close(ev, gapMinutes = 30).toDF(),
        s"$root/run$i", Sink.Update, noDataBatch = true)._1.count()
    val first = run(1)
    val c0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    val second = run(2)
    val compiled = CodegenMetrics.METRIC_COMPILATION_TIME.getCount - c0
    assert(compiled == 0, s"the second run compiled $compiled classes")
    assert(second == first && first > 0)
  }

  test("chunked source stamps file mtimes in time-range order") {
    val ev = Tables.events(spark, sf001)
    val root = tmp("streamrun_o")
    StreamRun.chunkedSource(spark, ev, s"$root/src", 4)
    val parts = new java.io.File(s"$root/src").listFiles()
      .filter(_.getName.startsWith("part-")).sortBy(_.getName)
    assert(parts.length == 4)
    assert(parts.map(_.lastModified()).sliding(2).forall(p => p(0) < p(1)),
      "mtimes must strictly increase in part order")
  }
}
