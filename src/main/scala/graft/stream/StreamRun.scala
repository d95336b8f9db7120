package graft.stream

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, ntile}
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryProgress, Trigger}

import graft.core.Scratch

/** Bounded executions of the REAL micro-batch engine (round-6 verdict
  * ask #2): a batch twin certifies the aggregation logic, but only an
  * actual `readStream` run exercises triggers, the state store, and
  * watermark advancement. These helpers run a streaming transform over a
  * bounded file source with `Trigger.AvailableNow` and materialize the
  * result to parquet via `foreachBatch`, so the read-back relation can
  * sit under the same DuckDB oracle as the batch twin.
  *
  * Scale shape: nothing here is driver-side — the source is the file
  * stream source (the same incremental-listing source a production
  * landing directory uses), each micro-batch is a distributed plan, and
  * the sink is a parquet write. `AvailableNow` is exactly the
  * "drain the backlog then stop" trigger a scheduled 100 TB ingest job
  * runs; an unbounded deployment only swaps the trigger.
  */
object StreamRun {

  /** Event-time column of every source this harness lays out itself. */
  private val Ts = "ts"

  /** Split `df` into `chunks` time-range files under `dir` and open them
    * as a file-stream source throttled to ONE file per trigger — so an
    * AvailableNow run executes `chunks` real micro-batches with state
    * carried across triggers, not one degenerate mega-batch. Range
    * partitioning on `ts` makes file order = event-time order (part
    * file names are zero-padded in range order), which is what a
    * time-partitioned landing directory delivers in production.
    */
  def chunkedSource(
      spark: SparkSession, df: DataFrame, dir: String, chunks: Int,
      tsCol: String = "ts"): DataFrame = {
    // The chunk layout is a deterministic function of the input, so an
    // existing successful build is reused (a production landing
    // directory is not rebuilt per job either). Callers key `dir` by
    // the SOURCE (sf dir) — reuse across different sources would serve
    // stale data. The marker records the chunk count (a different
    // `chunks` against the same dir must rebuild, not silently run
    // fewer micro-batches). The streaming execution itself is never
    // skipped: the checkpoint is wiped per run (runAvailableNow). The
    // marker also records the INPUT DataFrame's ts dtype: every current
    // caller passes post-normalization events (always 'timestamp'), so
    // this keys the layout on the schema the caller handed in — a guard
    // on what gets written, not a detector of the fixture's on-disk
    // flavor (TablesSpec pins that upstream).
    buildOnce(dir, s"chunks=$chunks;ts=${df.schema(tsCol).dataType.simpleString}") {
      df.repartitionByRange(chunks, col(tsCol)).write.parquet(dir)
    }
    fileStream(spark, dir)
  }

  /** chunkedSource plus a DISPLACED-LATE subset: `onTime` lands as
    * `chunks` event-time-ordered files, `late` as ONE extra file stamped
    * to arrive AFTER all of them — so by the time the late file's batch
    * runs, the watermark has advanced past its (much older) event times
    * and the engine must drop every row in it. This is the controlled
    * late-arrival scenario the watermark-drop audit query certifies; a
    * production landing directory produces exactly this shape when an
    * upstream partition replays old data. Rebuilt per run BY DESIGN
    * (no reuse marker): the layout depends on the caller's late-split
    * predicate, which the marker scheme doesn't key.
    */
  def chunkedSourceWithLate(
      spark: SparkSession, onTime: DataFrame, late: DataFrame,
      dir: String, chunks: Int): DataFrame = {
    Scratch.rmTree(dir)
    onTime.repartitionByRange(chunks, col(Ts)).write.parquet(dir)
    stampMtimesInPartOrder(dir)
    landLate(late.coalesce(1), dir)
    fileStream(spark, dir)
  }

  /** [[chunkedSource]] with an ORACLE-REPRODUCIBLE chunk rule: chunk b
    * = `ntile(chunks) OVER (ORDER BY tsCol, idCol)` − 1 — a total order
    * any engine can replay row-for-row, unlike repartitionByRange's
    * SAMPLED boundaries. One file per chunk, mtimes stamped in chunk
    * order, so trigger b consumes exactly chunk b; a query whose
    * ANSWER depends on which batch a row arrived in (evolving-dimension
    * snapshots) needs this — the plain chunked layout only guarantees
    * event-time ordering, not a cross-engine batch assignment. The
    * global-sort ntile is a fixture-build cost, paid once per (source,
    * chunks) under the same reuse marker as chunkedSource.
    */
  def rankChunkedSource(
      spark: SparkSession, df: DataFrame, dir: String, chunks: Int,
      tsCol: String = "ts", idCol: String = "event_id"): DataFrame = {
    buildOnce(dir,
        s"rank;chunks=$chunks;ts=$tsCol:${df.schema(tsCol).dataType.simpleString};id=$idCol") {
      Files.createDirectories(Paths.get(dir))
      val w = org.apache.spark.sql.expressions.Window
        .orderBy(col(tsCol), col(idCol))
      val chunked = df
        .withColumn("__chunk", ntile(chunks).over(w) - 1)
        .cache()
      try {
        for (b <- 0 until chunks) {
          val tmp = s"$dir-build-$b"
          Scratch.rmTree(tmp)
          chunked.filter(col("__chunk") === b).drop("__chunk")
            .coalesce(1).write.parquet(tmp)
          Files.move(partFiles(tmp).head.toPath,
            Paths.get(dir, f"part-$b%05d.parquet"))
          Scratch.rmTree(tmp)
        }
      } finally chunked.unpersist()
    }
    fileStream(spark, dir)
  }

  /** Reuse `dir` when its marker says it was built for `wanted`, else
    * rebuild it with `build` and stamp its part files in order. The
    * marker is graft's OWN file, written only after the mtime stamping
    * succeeds (Spark's _SUCCESS lands before it — reusing on _SUCCESS
    * could serve a half-built layout with unordered mtimes after a
    * crash).
    */
  private def buildOnce(dir: String, wanted: String)(build: => Unit): Unit = {
    val marker = Paths.get(dir, "_GRAFT_READY")
    val reusable = Files.exists(marker) && Files.readString(marker) == wanted
    if (!reusable) {
      Scratch.rmTree(dir)
      build
      stampMtimesInPartOrder(dir)
      Files.writeString(marker, wanted)
    }
  }

  /** The file-stream source over `dir`, ONE file per trigger. The schema
    * is read from `schemaDir`: a live run opens a directory that is
    * still empty.
    */
  private def fileStream(spark: SparkSession, dir: String,
      schemaDir: Option[String] = None): DataFrame =
    spark.readStream.schema(spark.read.parquet(schemaDir.getOrElse(dir)).schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(dir)

  private def partFiles(dir: String): Seq[java.io.File] =
    new java.io.File(dir).listFiles()
      .filter(_.getName.startsWith("part-")).sortBy(_.getName).toSeq

  /** Land `late` as NEW files in `dir`, stamped to arrive after every
    * part file already there — the only order a landing directory ever
    * appends in.
    */
  private def landLate(late: DataFrame, dir: String): Unit = {
    val consumed = partFiles(dir).map(_.lastModified()).max
    val lateDir = s"$dir-latebuild"
    Scratch.rmTree(lateDir)
    late.write.parquet(lateDir)
    stampMtimesInPartOrder(lateDir, after = consumed).foreach { f =>
      Files.move(f.toPath, Paths.get(dir, s"late-${f.getName}"))
    }
  }

  /** The file-stream source orders files by MODIFICATION TIME, and a
    * parallel write finishes its tasks in arbitrary order — so without
    * explicit stamps a later-time chunk can be processed first, pushing
    * the watermark past the earlier chunks and silently dropping them as
    * late (observed: append mode lost half the windows). Stamp strictly
    * increasing mtimes in part-file (= time-range) order, starting after
    * `after` (so files landed into a live directory sort behind the ones
    * already consumed); a production landing directory has this property
    * naturally — files arrive in event-time order.
    */
  private def stampMtimesInPartOrder(dir: String, after: Long = 0L): Seq[java.io.File] = {
    val parts = partFiles(dir)
    val t0 = math.max(after, parts.map(_.lastModified()).max)
    val stamped = parts.zipWithIndex.forall { case (f, i) =>
      f.setLastModified(t0 + (i + 1) * 2000L)
    }
    require(stamped, s"mtime stamping failed under $dir — " +
      "the filesystem must support setLastModified for ordered chunks")
    parts
  }

  /** Streaming state partition count for bounded fixture runs. The
    * shuffle-partition conf at a checkpoint's FIRST batch pins the state
    * store count for the query's life; 32 partitions × several stores
    * per partition (a stream-stream join keeps 4+) × 4 triggers is
    * hundreds of near-empty store commits — pure fixed overhead at
    * fixture volume (measured on the interval join: 32 → 8 partitions
    * cut the bounded run 16.7 → 6.9 s; 4/8/16 are then indistinguishable
    * within noise for the join, while 4 doubles the session query — its
    * 95k-row merge state wants the parallelism — so 8 is the floor).
    * Results are partition-count-independent, so the bounded harness
    * sizes state to the data (a production deployment sizes it to the
    * cluster; the checkpoint is wiped per run, so the count re-pins
    * each run).
    */
  private val StatePartitions = 8

  /** Bounded-run session confs, restored after the run. Beyond the
    * state-partition sizing, `noDataBatch = false` skips the engine's
    * final NO-DATA micro-batch — the extra trigger AvailableNow runs
    * after the backlog drains so watermark-driven emission can fire one
    * last time. That batch only matters when the sink's rows are
    * PRODUCED by watermark finalization (append-mode windowed
    * aggregation); for complete mode (every trigger rewrites full
    * state), update mode (emission happens in the data batch that
    * changed the group), and eager-emission append queries (inner
    * stream-stream joins, watermark dedup — rows emit on arrival, the
    * no-data batch only evicts state), it re-commits every state store
    * for an identical result — pure fixed cost, ~1 trigger of the
    * bounded run. Callers that certify watermark-finalized emission
    * (events_windowed_stream_append) keep it on.
    */
  private def withBoundedRunConfs[A](
      spark: SparkSession, noDataBatch: Boolean)(body: => A): A = {
    val keys = Seq(
      "spark.sql.shuffle.partitions" -> StatePartitions.toString,
      "spark.sql.streaming.noDataMicroBatches.enabled" -> noDataBatch.toString)
    val prev = keys.map { case (k, _) => k -> spark.conf.getOption(k) }
    keys.foreach { case (k, v) => spark.conf.set(k, v) }
    try body finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None)    => spark.conf.unset(k)
    }
  }

  /** Land one micro-batch in its own `batch_id=<id>` partition dir,
    * OVERWRITING that dir alone. This is what makes the foreachBatch
    * parquet sink effectively exactly-once: the engine's contract is
    * at-least-once — a crash between the sink write and the checkpoint
    * commit replays the batch with the SAME batch id on restart — and a
    * plain `mode("append")` sink would double its rows, silently, at
    * any scale. Keying the overwrite by the replay-stable batch id
    * makes the retry rewrite its own partition and nothing else (the
    * idempotent-writes pattern from the Structured Streaming guide,
    * here as the harness default rather than an option). Retry
    * idempotence is pinned in StreamRunSpec by invoking this twice with
    * one id.
    */
  private[stream] def writeBatchPartition(batch: DataFrame, sink: String, id: Long): Unit =
    batch.write.mode("overwrite").parquet(s"$sink/batch_id=$id")

  /** Read a partitioned sink back: the `batch_id=N` partition dirs
    * surface as an inferred int partition column, normalized to the
    * Long the stamped-column sink exposed.
    */
  private def readSink(spark: SparkSession, sink: String): DataFrame = {
    val df = spark.read.parquet(sink)
    df.withColumn("batch_id", col("batch_id").cast("long"))
  }

  /** How each trigger of a bounded run lands in the parquet sink under
    * `<outDir>/result`, and how the sink reads back. Every sink is
    * replay-idempotent: `Complete` overwrites the whole sink, the others
    * overwrite their trigger's own partition ([[writeBatchPartition]]).
    * The sink also fixes the output mode and the default for the
    * trailing no-data batch (see `withBoundedRunConfs`).
    */
  sealed abstract class Sink(
      private[StreamRun] val outputMode: String,
      private[StreamRun] val noDataBatch: Boolean)

  object Sink {

    /** Each trigger overwrites the sink with the full state (last trigger
      * wins — the bounded-run batch equivalent). No no-data batch, ever:
      * it cannot change a complete-mode sink.
      */
    case object Complete extends Sink("complete", false)

    /** Each trigger's newly finalized rows land in their own `batch_id=N`
      * partition; the union of emissions is the result, read back
      * without `batch_id`. The no-data batch is on by default: it is the
      * trigger that finalizes the last watermark-driven windows.
      */
    case object Append extends Sink("append", true)

    /** Each trigger lands only the CHANGED rows of a stateful aggregation
      * in its `batch_id=N` partition — the delta-shipping sink shape
      * StreamingReconcile is built on (per batch the reconcile touches
      * changed groups, never the full group space). `batch_id` is kept:
      * the caller reduces the log to the latest row per key
      * (`max_by(…, "batch_id")`); a group updates at most once per
      * trigger, so the partition id is unambiguous within a key.
      *
      * The no-data batch is OFF by default because update mode emits
      * from the data batch that changed the group (NoTimeout custom
      * state and built-in update-mode aggs alike), so the trailing
      * no-data batch is result-neutral — pure fixed cost. A caller whose
      * state handler emits on EVENT-TIME TIMEOUT (EventTimeTimeout
      * flatMapGroupsWithState, transformWithState timers) MUST pass
      * `noDataBatch = true`: its final emissions fire from watermark
      * advancement after the backlog drains, which only the no-data
      * batch delivers on a bounded run.
      */
    case object Update extends Sink("update", false)

    /** Per-trigger TRANSFORM sink: every micro-batch, with its batch id,
      * is passed through `f` — a plain batch DataFrame function — and
      * the result lands under its `batch_id=N` partition (kept on read
      * back). Three certified uses:
      *
      *  - summary logs ("shard summary per ingest batch"): the
      *    per-trigger outputs are tiny and MERGEABLE offline, so a
      *    downstream consumer answers corpus-wide questions from the
      *    summary log without rescanning the ingested data;
      *  - per-batch ENRICHMENT (streaming as-of): operators only batch
      *    execution can plan — the native as-of join in particular — run
      *    against each trigger's arrivals inside foreachBatch, where the
      *    batch is an ordinary DataFrame under the session's full planner
      *    (custom strategies included). Each event is enriched exactly
      *    once in the batch it arrives, so the union of emissions equals
      *    the batch-mode transform of the whole stream;
      *  - trigger-dependent snapshots ("batch b joins dimension
      *    generations ≤ b"), which read the batch id.
      *
      * The streaming side is stateless (the work happens inside
      * foreachBatch) — no watermark, no state store, no no-data batch —
      * which is why the per-batch outputs must be union-composable.
      */
    final case class PerBatch(f: (DataFrame, Long) => DataFrame) extends Sink("append", false)
  }

  private def land(sink: Sink, path: String): (DataFrame, Long) => Unit = sink match {
    case Sink.Complete => (batch, _) => batch.write.mode("overwrite").parquet(path)
    case Sink.Append | Sink.Update => (batch, id) => writeBatchPartition(batch, path, id)
    case Sink.PerBatch(f) => (batch, id) => writeBatchPartition(f(batch, id), path, id)
  }

  private def readBack(spark: SparkSession, sink: Sink, path: String): DataFrame = sink match {
    case Sink.Complete => spark.read.parquet(path)
    case Sink.Append => readSink(spark, path).drop("batch_id")
    case Sink.Update | Sink.PerBatch(_) => readSink(spark, path)
  }

  /** Per-trigger execution evidence, lifted from the engine's own
    * StreamingQueryProgress after a bounded run: what arrived, what the
    * state stores held at commit, what the advancing watermark EVICTED.
    * The stress harness's bounded-state claim rides these numbers —
    * `stateRows` tracking the trigger's arrival window while
    * `rowsRemoved` drains the previous one is watermark eviction
    * observed, not assumed.
    */
  final case class TriggerStats(
      batchId: Long, inputRows: Long, stateRows: Long,
      rowsRemoved: Long, triggerMs: Long, rowsDroppedByWatermark: Long)

  private def triggerStats(p: StreamingQueryProgress): TriggerStats =
    TriggerStats(p.batchId, p.numInputRows,
      p.stateOperators.map(_.numRowsTotal).sum,
      p.stateOperators.map(_.numRowsRemoved).sum,
      Option(p.durationMs.get("triggerExecution")).map(_.toLong).getOrElse(0L),
      p.stateOperators.map(_.numRowsDroppedByWatermark).sum)

  /** Start `streaming` into a foreachBatch sink checkpointed under
    * `<outDir>/ckpt`, hand the query to `drain`, and return the
    * per-trigger progress trail (query handles are gone after the run,
    * so the stats must be captured here — recentProgress retains the
    * full bounded trail, which is far shorter than the 100-entry
    * retention default).
    */
  private def startAndDrain(
      streaming: DataFrame, outDir: String, outputMode: String,
      trigger: Trigger, noDataBatch: Boolean,
      land: (DataFrame, Long) => Unit)(drain: StreamingQuery => Unit): Seq[TriggerStats] =
    withBoundedRunConfs(streaming.sparkSession, noDataBatch) {
      val q = streaming.writeStream
        .outputMode(outputMode)
        .trigger(trigger)
        .option("checkpointLocation", s"$outDir/ckpt")
        .foreachBatch(land)
        .start()
      drain(q)
      q.recentProgress.toSeq.map(triggerStats)
    }

  /** One AvailableNow run into `sink` under `outDir`, against whatever
    * checkpoint is already there. `Complete` forces the no-data batch off.
    */
  private def drainAvailableNow(streaming: DataFrame, outDir: String, sink: Sink,
      noDataBatch: Boolean): Seq[TriggerStats] =
    startAndDrain(streaming, outDir, sink.outputMode, Trigger.AvailableNow(),
      noDataBatch && sink != Sink.Complete,
      land(sink, s"$outDir/result"))(_.awaitTermination())

  /** Execute `streaming` (a transform of a readStream source) with
    * Trigger.AvailableNow into `sink` and return the result read back
    * from parquet plus the per-trigger progress trail. The checkpoint is
    * wiped first: the harness re-runs the same query against different
    * sf dirs, and a stale checkpoint pins the previous source path.
    * `noDataBatch` defaults to the sink's own default.
    */
  def runAvailableNow(streaming: DataFrame, outDir: String,
      sink: Sink): (DataFrame, Seq[TriggerStats]) =
    runAvailableNow(streaming, outDir, sink, sink.noDataBatch)

  def runAvailableNow(streaming: DataFrame, outDir: String, sink: Sink,
      noDataBatch: Boolean): (DataFrame, Seq[TriggerStats]) = {
    Scratch.rmTree(outDir)
    val stats = drainAvailableNow(streaming, outDir, sink, noDataBatch)
    (readBack(streaming.sparkSession, sink, s"$outDir/result"), stats)
  }

  /** [[runAvailableNow]] into the [[Sink.Update]] sink. */
  def runAvailableNowUpdateObserved(streaming: DataFrame, outDir: String,
      noDataBatch: Boolean = false): (DataFrame, Seq[TriggerStats]) =
    runAvailableNow(streaming, outDir, Sink.Update, noDataBatch)

  /** Stop/restart recovery as a first-class bounded run: drain `early`
    * to completion (including the trailing no-data batch, so
    * watermark-fired emissions happen before the stop, exactly as a
    * scheduled job's last run would — `Complete` forces it off), stop,
    * land `late` as NEW files in the same source directory, then
    * restart against the SAME checkpoint. The engine must resume batch
    * numbering where run 1 stopped (state restored from the checkpoint,
    * committed batches not reprocessed) and read ONLY the late files;
    * both invariants are `require`d here so a recovery regression fails
    * loudly. Result-level correctness — restored state + new arrivals =
    * the single-run answer, including windows and custom-state sessions
    * straddling the stop/restart boundary, whose registered event-time
    * timers must be restored too — is what the caller's oracle
    * certifies.
    *
    * `restartTransform` (default: `transform`) is the transform of the
    * RESTARTED run. A different value is the STATE-SCHEMA-EVOLUTION
    * scenario: run 2 resumes run 1's checkpoint under an evolved
    * processor (e.g. an added state variable), which the engine must
    * accept.
    *
    * Unlike chunkedSource's layout this one is rebuilt per run BY
    * DESIGN: the directory mutates mid-scenario, so reuse would hand
    * run 1 a source that already contains the late files.
    */
  def runRestart(
      early: DataFrame, late: DataFrame,
      transform: DataFrame => DataFrame,
      outDir: String, sink: Sink,
      chunksPerPhase: Int = 2,
      restartTransform: Option[DataFrame => DataFrame] = None)
      : (DataFrame, Seq[TriggerStats], Seq[TriggerStats]) = {
    val spark = early.sparkSession
    Scratch.rmTree(outDir)
    val srcDir = s"$outDir/src"
    early.repartitionByRange(chunksPerPhase, col(Ts)).write.parquet(srcDir)
    stampMtimesInPartOrder(srcDir)
    def run(t: DataFrame => DataFrame): Seq[TriggerStats] =
      drainAvailableNow(t(fileStream(spark, srcDir)), outDir, sink, noDataBatch = true)

    val first = run(transform)
    landLate(late.repartitionByRange(chunksPerPhase, col(Ts)), srcDir)
    val second = run(restartTransform.getOrElse(transform))

    require(first.nonEmpty && second.nonEmpty &&
      second.map(_.batchId).min > first.map(_.batchId).max,
      s"restart must resume batch numbering from the checkpoint: " +
        s"run1=${first.map(_.batchId)} run2=${second.map(_.batchId)}")
    val lateRows = late.count()
    require(second.map(_.inputRows).sum == lateRows,
      s"restart must read exactly the late arrivals ($lateRows rows): $second")
    (readBack(spark, sink, s"$outDir/result"), first, second)
  }

  // Live-run shape. The land cadence must stay SLOWER than the trigger
  // cadence: that gap is what proves triggers run BETWEEN arrivals (the
  // live property); 250 vs 200 ms keeps the proof with little waiting.
  private val LiveChunks = 4
  private val LiveTriggerMs = 200L
  private val LiveLandEveryMs = 250L
  private val LiveTimeoutMs = 120000L

  /** LIVE unbounded-trigger run: execute `transform` with
    * `Trigger.ProcessingTime` against a source directory that a
    * CONCURRENT writer thread is appending chunk files to mid-run — the
    * deployment shape the AvailableNow harness only asserts ("an
    * unbounded deployment only swaps the trigger"). What this exercises
    * that no bounded run can: live file discovery (the source must pick
    * up files that did not exist when the query started),
    * wall-clock-paced triggers that sometimes fire on an empty
    * directory, and watermark advancement + finalization driven by the
    * engine's own no-data batches rather than AvailableNow's scripted
    * trailer.
    *
    * The run is stopped from OUTSIDE the engine (there is no "end" of
    * an unbounded query): once the progress trail shows the full
    * backlog consumed AND a subsequent no-data batch (watermark
    * finalization fired), the query is `stop()`ped. A query that dies,
    * or a writer that fails, ends the run at once with that failure.
    * Emission-level invariants are `require`d here; result correctness
    * is the caller's oracle — for an append windowed aggregation, the
    * SAME oracle as the AvailableNow twin, which is the certification.
    */
  def runProcessingTimeLive(
      df: DataFrame, transform: DataFrame => DataFrame,
      outDir: String, outputMode: String = "append"): (DataFrame, Seq[TriggerStats]) = {
    val spark = df.sparkSession
    Scratch.rmTree(outDir)
    val stageDir = s"$outDir/stage"
    val srcDir = s"$outDir/src"
    val sink = s"$outDir/result"
    df.repartitionByRange(LiveChunks, col(Ts)).write.parquet(stageDir)
    val files = stampMtimesInPartOrder(stageDir)
    Files.createDirectories(Paths.get(srcDir))
    val totalRows = df.count()

    val trail = startAndDrain(
        transform(fileStream(spark, srcDir, Some(stageDir))), outDir, outputMode,
        Trigger.ProcessingTime(s"$LiveTriggerMs milliseconds"), noDataBatch = true,
        (batch, id) => writeBatchPartition(batch, sink, id)) { q =>
      // the concurrent writer: one chunk lands every LiveLandEveryMs,
      // slower than the trigger cadence, so the query provably runs
      // triggers BETWEEN arrivals (live discovery, not a pre-staged
      // backlog). rename within one filesystem = atomic visibility.
      val writerFailure = new java.util.concurrent.atomic.AtomicReference[Throwable]
      val writer = new Thread(() =>
        try files.foreach { f =>
          Thread.sleep(LiveLandEveryMs)
          Files.move(f.toPath, Paths.get(srcDir, f.getName))
        } catch { case e: Throwable => writerFailure.set(e) })
      writer.setDaemon(true)
      writer.start()
      // drained = every staged row consumed; finalized = a no-data batch
      // ran AFTER the last data batch (watermark advanced past the
      // final chunk, append-mode finalization had its chance to emit)
      def done = {
        val p = q.recentProgress.toSeq.map(triggerStats)
        val dataBatches = p.filter(_.inputRows > 0)
        dataBatches.map(_.inputRows).sum == totalRows &&
          p.exists(t => t.inputRows == 0 &&
            dataBatches.nonEmpty && t.batchId > dataBatches.map(_.batchId).max)
      }
      val deadline = System.currentTimeMillis() + LiveTimeoutMs
      while (q.isActive && writerFailure.get == null && !done &&
        System.currentTimeMillis() < deadline) Thread.sleep(200L)
      writer.join(LiveTimeoutMs)
      q.stop()
      // rethrows the query's own failure, if it died
      q.awaitTermination()
      Option(writerFailure.get).foreach(e => throw e)
    }
    require(trail.map(_.inputRows).sum == totalRows,
      s"live run must consume the full backlog ($totalRows rows) " +
        s"within ${LiveTimeoutMs}ms: $trail")
    // maxFilesPerTrigger=1 → each chunk consumed by its own trigger;
    // fewer data batches than chunks would mean the source saw the
    // directory pre-staged instead of discovering files live
    require(trail.count(_.inputRows > 0) >= LiveChunks,
      s"live discovery must consume the $LiveChunks chunks in separate " +
        s"triggers: $trail")
    // batch_id kept: live callers read it to prove WHICH trigger an
    // emission rode (e.g. timer closes on an engine-scheduled no-data
    // batch); drop it before oracle-facing output
    (readSink(spark, sink), trail)
  }
}
