package graft.tools

import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.ext.{Amplify, Dedup, Funnel, SparseSim}
import graft.stream.{EventWindows, StreamRun}

/** Scale-stress harness (round-6 verdict ask #1): run the FORCED 100 TB
  * code paths on deterministically amplified fixture views and measure
  * wall time, s/Mrow, shuffle volume, and CC round counts — the numbers
  * STRESS.md records. Not part of the library surface.
  *
  * Usage: SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 STRESS_AMPS=1,2,4,8 \
  *          sbt "runMain graft.tools.Stress"
  * Prints one pipe-delimited line per (operator, amplification).
  *
  * `STRESS_SECTIONS` selects which sweeps run ("amps", "chunks", or
  * both — the default). `scripts/stress.sh` uses it to fork ONE FRESH
  * JVM per amplification point: the one-JVM loop's late points carried
  * accumulated-JVM state (round 9 measured the 16× CC at 162.8 s
  * one-JVM vs 33 s fresh), so per-point forking is what makes the
  * wall-time columns trustworthy without a footnote.
  */
object Stress {

  /** Sums executor task metrics across a measured block — the listener
    * equivalent of the Spark UI's per-stage shuffle columns.
    */
  final class MetricsAcc extends SparkListener {
    @volatile var shuffleReadB = 0L
    @volatile var shuffleWriteB = 0L
    @volatile var spillB = 0L
    @volatile var tasks = 0L
    // longest single task: a wall time dominated by maxTask while every
    // other task is short is a STRAGGLER (hot-key/hot-bucket skew), not
    // aggregate work — the diagnosis column for non-monotone wall times
    @volatile var maxTaskMs = 0L
    override def onTaskEnd(te: SparkListenerTaskEnd): Unit = {
      val m = te.taskMetrics
      if (m != null) synchronized {
        shuffleReadB += m.shuffleReadMetrics.totalBytesRead
        shuffleWriteB += m.shuffleWriteMetrics.bytesWritten
        spillB += m.diskBytesSpilled
        tasks += 1
        if (te.taskInfo != null && te.taskInfo.duration > maxTaskMs)
          maxTaskMs = te.taskInfo.duration
      }
    }
  }

  def main(args: Array[String]): Unit = {
    val sf = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val amps = sys.env.getOrElse("STRESS_AMPS", "1,2,4,8")
      .split(",").map(_.trim.toInt).toSeq
    val sections = sys.env.getOrElse("STRESS_SECTIONS", "amps,chunks")
      .split(",").map(_.trim).toSet
    val spark = graft.GraftSession.builder("local[32]", 32)
      .config("spark.ui.enabled", "false")
      .config("spark.driver.memory", sys.env.getOrElse("STRESS_DRIVER_MEM", "16g"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1000).selectExpr("sum(id)").collect() // JIT/session warmup

    val sfKey = sf.replaceAll("[^A-Za-z0-9.]", "_")
    val docs0 = graft.core.Tables.documents(spark, sf).filter(col("doc_id") < 1000)
    val ev0 = graft.core.Tables.events(spark, sf)

    def run(op: String, amp: Int, inRows: Long)(body: => (Long, String)): Unit = {
      val acc = new MetricsAcc
      spark.sparkContext.addSparkListener(acc)
      val t0 = System.nanoTime()
      val (outRows, extra) = body
      val secs = (System.nanoTime() - t0) / 1e9
      // the listener bus is async — give queued task-end events from the
      // final stage a moment to drain before reading the accumulators
      // (the public API has no waitUntilEmpty; 500 ms covers local-mode
      // queues comfortably and is outside the timed window)
      Thread.sleep(500)
      spark.sparkContext.removeSparkListener(acc)
      spark.catalog.clearCache()
      println(f"STRESS|$op|amp=$amp|in_rows=$inRows|out_rows=$outRows|" +
        f"secs=$secs%.2f|s_per_Mrow=${secs * 1e6 / inRows}%.3f|" +
        f"shuf_read_mb=${acc.shuffleReadB / 1e6}%.1f|" +
        f"shuf_write_mb=${acc.shuffleWriteB / 1e6}%.1f|" +
        f"spill_mb=${acc.spillB / 1e6}%.1f|tasks=${acc.tasks}|" +
        f"max_task_s=${acc.maxTaskMs / 1e3}%.1f|$extra")
    }

    import graft.plans.GraftExtensions.withoutRule

    // One stream-stream interval join over `ev` in `chunks` chunks, with
    // the progress-trail evidence the amp and chunks sweeps report.
    def intervalJoinRun(ev: DataFrame, root: String, chunks: Int): (Long, String) = {
      def src() = StreamRun.chunkedSource(spark, ev, s"$root/src", chunks)
      val (res, st) = StreamRun.runAvailableNow(
        EventWindows.correlateStreams(
          src(), src(), "user_id", "10 MINUTES", "1 minute"),
        s"$root/run", StreamRun.Sink.Append)
      val maxState = if (st.isEmpty) 0L else st.map(_.stateRows).max
      (res.count(),
        s"triggers=${st.length}|max_state_rows=$maxState|" +
          s"rows_removed=${st.map(_.rowsRemoved).sum}|" +
          s"streamed_rows=${st.map(_.inputRows).sum}")
    }

    // The transformWithState session machine (RocksDB, the session's
    // state store provider) over `ev` in 8 chunks, trailing no-data
    // batch included (it fires the final timers).
    def sessionCloseRun(ev: DataFrame, root: String) = {
      import spark.implicits._
      val src = StreamRun.chunkedSource(spark, ev, s"$root/src", 8)
      StreamRun.runAvailableNow(
        graft.stream.SessionCloseTws.close(
          src.select(col("user_id"), col("ts"), col("value"))
            .withWatermark("ts", "1 hour")
            .as[graft.stream.SessionClose.Event], gapMinutes = 30).toDF(),
        s"$root/run", StreamRun.Sink.Update, noDataBatch = true)
    }

    val lshParams = Dedup.MinHashParams(
      numBands = 16, rowsPerBand = 2, bruteForceMaxDocs = 0L)

    for (amp <- amps if sections("amps")) {
      val nDocs = 1000L * amp

      // 1. FORCED LSH banding join, constant density (disjoint copies):
      // the dedup_minhash_lsh certified shape. Expect linear work.
      val dj = Amplify.documentsDisjoint(docs0, amp)
      run("lsh_banding_disjoint", amp, nDocs) {
        (Dedup.minhashNearDupPairs(dj, "doc_id", "text", 0.9, lshParams).count(), "")
      }

      // 2. FORCED distributed CC loop on the density-stress view (salted
      // copies: clusters merge across copies into mega-components).
      val sa = Amplify.documentsSalted(docs0, amp)
      run("cc_loop_salted", amp, nDocs) {
        val pairs = Dedup.minhashNearDupPairs(sa, "doc_id", "text", 0.9, lshParams)
          .select("id_a", "id_b")
        val nodes = sa.select(col("doc_id").as("id"))
        val (labels, st) = Dedup.connectedComponentsWithStats(
          nodes, pairs, maxIters = 20, maxDriverEdges = 0L)
        val nClusters = labels.select("cluster_rep").distinct().count()
        (nClusters,
          s"cc_iters=${st.iters}|converged=${st.converged}|edges=${st.edges}|" +
            s"active=${st.activeNodes}")
      }

      // 2b. The skew lever under density stress: same run with the
      // bucket cap engaged (2000) — the mega-cluster's hot buckets are
      // dropped (quadratic single-reducer pair listing avoided) and the
      // drop audit reports exactly how much recall was traded.
      run("cc_loop_salted_cap2000", amp, nDocs) {
        val capped = lshParams.copy(maxBucketSize = 2000)
        val pairs = Dedup.minhashNearDupPairs(sa, "doc_id", "text", 0.9, capped)
          .select("id_a", "id_b")
        val nodes = sa.select(col("doc_id").as("id"))
        val (labels, st) = Dedup.connectedComponentsWithStats(
          nodes, pairs, maxIters = 20, maxDriverEdges = 0L)
        val nClusters = labels.select("cluster_rep").distinct().count()
        val audit = Dedup.minhashDropAudit(sa, "doc_id", "text", capped)
          .agg(sum("dropped_buckets"), sum("dropped_rows")).head
        (nClusters,
          s"cc_iters=${st.iters}|converged=${st.converged}|edges=${st.edges}|" +
            s"dropped_buckets=${audit.getLong(0)}|dropped_rows=${audit.getLong(1)}")
      }

      // 3. Inverted-index sparse cosine, constant density. Expect linear.
      val dj300 = Amplify.documentsDisjoint(
        graft.core.Tables.documents(spark, sf).filter(col("doc_id") < 300), amp)
      run("sparse_cosine_disjoint", amp, 300L * amp) {
        (SparseSim.cosinePairs(dj300, "doc_id", "text", 0.8, maxDf = 240).count(), "")
      }

      // 4. Rolling 7-day actives over amplified events (users ×amp),
      // plus the 30-day (MAU) variant — its ×30 explode of the deduped
      // (user, day) relation is the documented cost to measure.
      val evA = Amplify.events(ev0, amp)
      run("rolling_actives", amp, ev0.count() * amp) {
        (Funnel.rollingActives(evA, "user_id", "ts", windowDays = 7).count(), "")
      }
      run("rolling_actives_mau30", amp, ev0.count() * amp) {
        (Funnel.rollingActives(evA, "user_id", "ts", windowDays = 30).count(), "")
      }

      // 5. Streaming stream-stream interval join under amplification:
      // the bounded-STATE claim measured from the engine's own progress
      // trail. Watermark eviction must keep join state tracking the
      // trigger's arrival window (max_state ≈ the largest chunk), never
      // the stream's history — without eviction the final trigger would
      // hold every streamed row. rows_removed > 0 is eviction observed.
      run("stream_interval_join", amp, ev0.count() * amp) {
        // dir keyed by (sf dir, amp): chunkedSource's reuse marker only
        // records chunk count + ts dtype, so an amp-only key would serve
        // a DIFFERENT sf dir's stale layout (observed: an sf0.01 run
        // reused the previous sf0.1 sweep's chunks)
        intervalJoinRun(evA,
          s"${graft.certs.CertSupport.scratchDir("stress_stream")}/amp$amp-$sfKey", 8)
      }
    }

    // Trigger-granularity sweep at fixed volume: state must shrink as
    // triggers get finer (it tracks the arrival window), while the
    // streamed total stays put — the orthogonal axis to the amp loop.
    // 6. Session-close machine under amplification (round-10
    // addition): users ×amp over the same calendar, so OPEN-session
    // state must track the amplified active-user population of the
    // arrival window — never the stream's history — and the watermark
    // must drain every closed session (rows_removed ≈ state churn).
    // Emissions scale ×amp with the user population.
    for (amp <- amps if sections("sessions")) {
      val evA = Amplify.events(ev0, amp)
      run("session_close_stream", amp, ev0.count() * amp) {
        val (res, st) = sessionCloseRun(evA,
          s"${graft.certs.CertSupport.scratchDir("stress_sessions")}/amp$amp-$sfKey")
        val n = res.count()
        val maxState = if (st.isEmpty) 0L else st.map(_.stateRows).max
        (n,
          s"triggers=${st.length}|max_state_rows=$maxState|" +
            s"rows_removed=${st.map(_.rowsRemoved).sum}|" +
            s"nodata_emits=${res.filter(col("batch_id") === st.last.batchId).count()}")
      }
    }

    // 7. HOT-KEY session stress (round-10 verdict wart #1): the uniform
    // sweeps amplify users evenly, so no single task ever concentrates a
    // per-trigger batch — exactly the shape foldBatch's per-key
    // materialize+sort (SessionClose.foldBatch) would be hurt by. Here
    // user −1 absorbs ~1% of the amplified stream (hotPermille = 10), so
    // every trigger funnels that user's whole slice (≈ rows/chunks/100)
    // through ONE task of the state-store stage. max_task_s against the
    // uniform session sweep's is the measured ceiling; hot_rows is the
    // concentration actually delivered.
    for (amp <- amps if sections("hotkey")) {
      val evA = Amplify.eventsHotKey(ev0, amp, hotPermille = 10)
      run("session_close_hotkey", amp, ev0.count() * amp) {
        val (res, st) = sessionCloseRun(evA,
          s"${graft.certs.CertSupport.scratchDir("stress_hotkey")}/amp$amp-$sfKey")
        val n = res.count()
        val hotRows = evA.filter(col("user_id") === -1L).count()
        val maxState = if (st.isEmpty) 0L else st.map(_.stateRows).max
        (n,
          s"triggers=${st.length}|max_state_rows=$maxState|" +
            s"rows_removed=${st.map(_.rowsRemoved).sum}|hot_rows=$hotRows")
      }
    }

    // 8. Optimizer-extension range join under amplification (round 12):
    // points ×amp against a CONSTANT interval side (the amplified
    // copies share the fixture calendar, so the derived daily windows
    // don't grow). RangeBinJoinRule must keep the join an equi join on
    // the bucket key at every amp — matched rows exactly
    // ×amp, wall time ~linear. The un-rewritten nested loop would be
    // O(points × windows) row comparisons; the require makes the sweep
    // fail loudly if the rewrite ever stops firing.
    for (amp <- amps if sections("rangejoin")) {
      val evA = Amplify.events(ev0, amp)
      run("range_join_auto", amp, ev0.count() * amp) {
        evA.createOrReplaceTempView("stress_rja_events")
        val df = spark.sql(graft.certs.CertSupport.rangeJoinSql("stress_rja_events"))
        val plan = df.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
        require(!plan.contains("BroadcastNestedLoopJoin") &&
                !plan.contains("CartesianProduct"),
          "range-join rewrite did not fire under amplification")
        val row = df.agg(sum("n_events"), count(lit(1))).head
        (row.getLong(0), s"windows=${row.getLong(1)}")
      }
    }

    // 9. Prefix-filter containment join under disjoint amplification
    // (round 13): copies share no vocabulary, so true pairs are ×amp
    // and candidate volume must track it — the "work linear, s/row
    // flat" bar every banded/bucketed path is held to. The require
    // pins EXACT ×amp output (prefix filtering is recall 1.0, so
    // disjoint amplification cannot change per-copy answers).
    lazy val basePairs = Dedup.containmentPairs(docs0, "doc_id", "text", 0.9).count()
    for (amp <- amps if sections("containment")) {
      val dj = Amplify.documentsDisjoint(docs0, amp)
      run("containment_prefix_disjoint", amp, 1000L * amp) {
        val n = Dedup.containmentPairs(dj, "doc_id", "text", 0.9).count()
        require(n == basePairs * amp,
          s"prefix containment lost pairs under amplification: " +
            s"$n != $basePairs * $amp")
        (n, s"base_pairs=$basePairs")
      }
    }

    // 9b. Prefix-filter containment join under DENSITY amplification
    // (round-14 verdict ask #5): salted copies keep the fixture
    // vocabulary, so every near-dup clique of size s becomes one
    // cross-copy clique of ≈ amp·s — and copies of the same doc are
    // mutual containments (they differ by one salt token), so TRUE
    // pairs grow ~amp². This is where prefix tokens collide hardest:
    // the first-shared-prefix dedup means each qualifying pair meets
    // ONCE (no candidate-level distinct), but the quadratic truth is
    // inherent — the diagnostic columns are s/out_row (work per
    // emitted pair, should stay flat) and max_task_s (a hot prefix
    // token's postings would concentrate in one task).
    for (amp <- amps if sections("containmentdensity")) {
      val sa = Amplify.documentsSalted(docs0, amp)
      var plainN = 0L
      run("containment_prefix_salted", amp, 1000L * amp) {
        plainN = Dedup.containmentPairs(sa, "doc_id", "text", 0.9).count()
        (plainN, "")
      }
      // the hot-token lane lever ON (df > 100 → 16 lanes): max_task_s
      // must collapse toward wall/parallelism while the pair count
      // stays EXACTLY the plain run's — the lever is recall-lossless
      run("containment_prefix_salted_lanes", amp, 1000L * amp) {
        val n = Dedup.containmentPairs(sa, "doc_id", "text", 0.9,
          hotTokenDf = 100L, hotTokenSalts = 16).count()
        require(n == plainN,
          s"hot-token lanes changed the answer: $n != $plainN")
        (n, "")
      }
    }

    // 10. Range-join rewrite ON vs OFF (round-13 verdict ask #8): the
    // crossover curve that quantifies what the optimizer rule exists
    // for. BOTH axes grow with amp — points ×amp (events copies) and
    // intervals ×amp (6·amp maintenance slots per day, each half-open
    // and half a slot wide, so every point matches at most one window
    // and the matched fraction stays constant). Rule OFF the join is a
    // broadcast nested loop: O(points × windows) comparisons, ~amp²
    // work. Rule ON (auto width — derived from the slot statistics at
    // rewrite time) it is an equi join on the bucket key: ~amp work.
    // The checksum requires bit-identical results both ways.
    for (amp <- amps if sections("rangejoincmp")) {
      val slotSec = 86400 / (6 * amp)
      val evA = Amplify.events(ev0, amp)
      evA.createOrReplaceTempView("stress_rjc_events")
      val sqlText =
        s"""WITH d AS (
           |  SELECT DISTINCT date_trunc('day', ts) AS day
           |  FROM stress_rjc_events),
           |w AS (
           |  SELECT timestampadd(SECOND, k * $slotSec, day) AS w_start,
           |         timestampadd(SECOND, k * $slotSec + ${slotSec / 2}, day)
           |           AS w_end
           |  FROM d LATERAL VIEW explode(sequence(0, ${6 * amp - 1})) t AS k)
           |SELECT count(*) AS n,
           |       sum(hash(e.event_id, unix_seconds(w.w_start))) AS chk
           |FROM stress_rjc_events e
           |JOIN w ON e.ts >= w.w_start AND e.ts < w.w_end""".stripMargin
      var onRow: org.apache.spark.sql.Row = null
      run("range_join_rule_on", amp, ev0.count() * amp) {
        val df = spark.sql(sqlText)
        val plan = df.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
        require(plan.contains("_graft_pbucket"),
          "auto rewrite did not fire in the comparison sweep")
        onRow = df.head
        (onRow.getLong(0), s"windows=${30 * 6 * amp}")
      }
      run("range_join_rule_off", amp, ev0.count() * amp) {
        withoutRule(spark, classOf[graft.plans.RangeBinJoinRule]) {
          val df = spark.sql(sqlText)
          val plan = df.queryExecution.explainString(
            org.apache.spark.sql.execution.FormattedMode)
          require(plan.contains("BroadcastNestedLoopJoin") ||
                  plan.contains("CartesianProduct"),
            "rule-off run unexpectedly found an equi plan")
          val row = df.head
          require(row == onRow,
            s"rule on/off disagree: on=$onRow off=$row")
          (row.getLong(0), s"windows=${30 * 6 * amp}")
        }
      }
    }

    // Native as-of under a HOT KEY (round-14 verdict ask #1): user −1
    // owns ~10% of the amplified stream on BOTH sides (hotPermille =
    // 100), so the unsalted operator must funnel that user's whole
    // merge through ONE task — ClusteredDistribution on the key, and
    // AQE's OptimizeSkewedJoin does not split custom execs. The salted
    // form time-splits the key space (numSplits = 32) and replicates
    // one boundary row per (key, split), so its max_task_s must stay
    // ~flat while the plain form's grows with the hot key's volume.
    // Checksums pin identical answers.
    val hotPermille = sys.env.getOrElse("STRESS_HOT_PERMILLE", "100").toInt
    for (amp <- amps if sections("asofhotkey")) {
      val evA = Amplify.eventsHotKey(ev0, amp, hotPermille = hotPermille)
      val left = evA.select("event_id", "user_id", "ts")
      val right = evA.filter(col("event_type") === "purchase")
        .select(col("user_id").as("p_user"), col("ts").as("p_ts"),
          col("ts").as("matched"))
      def summarize(df: DataFrame) = df.agg(
        count(lit(1)).as("n"),
        sum(hash(col("event_id"), unix_seconds(col("matched")))).as("chk"))
      def plain() = summarize(graft.plans.AsOfJoinNative.join(
        left, right, "user_id", "p_user", "ts", "p_ts", Seq("matched")))
      def salted() = summarize(graft.plans.AsOfJoinNative.joinSkewSalted(
        left, right, "user_id", "p_user", "ts", "p_ts", Seq("matched")))
      // untimed warmup of both pipelines (JIT/codegen): whichever runs
      // first in a fresh JVM absorbs it (measured ~2× on the first run)
      plain().head; salted().head
      val hotRows = left.filter(col("user_id") === -1L).count()
      var plainRow: org.apache.spark.sql.Row = null
      run("asof_native_hotkey", amp, ev0.count() * amp) {
        plainRow = plain().head
        (plainRow.getLong(0), s"hot_rows=$hotRows")
      }
      run("asof_salted_hotkey", amp, ev0.count() * amp) {
        val row = salted().head
        require(row == plainRow,
          s"salted/plain as-of disagree under hot key: " +
            s"plain=$plainRow salted=$row")
        (row.getLong(0), s"hot_rows=$hotRows")
      }
    }

    // Adaptive as-of front door (round-14 verdict ask #5): joinAuto
    // must ENGAGE the time-split salting on the hot-key fixture (and
    // stay max-task-flat like asof_salted_hotkey) while on the UNIFORM
    // fixture it must pick the plain path with only the two sampling
    // jobs of overhead — the ≤1.05× bound the round-14 verdict set.
    for (amp <- amps if sections("asofauto")) {
      // MATERIALIZED fixtures (production shape): a real as-of joins
      // TABLES, so the probe is a pruned 2-column scan — running it
      // against the amplifier's derived lineage would recompute the
      // 64× explode per probe and measure the fixture, not the mode
      def materialize(df: DataFrame, tag: String): DataFrame = {
        val p = s"/tmp/graft-stress/asofauto-$sfKey-$tag-$amp"
        graft.core.Scratch.rmTree(p)
        df.write.parquet(p)
        spark.read.parquet(p)
      }
      def sides(ev: DataFrame, tag: String) = (
        materialize(ev.select("event_id", "user_id", "ts"), s"$tag-l"),
        materialize(ev.filter(col("event_type") === "purchase")
          .select(col("user_id").as("p_user"), col("ts").as("p_ts"),
            col("ts").as("matched")), s"$tag-r"))
      def summarize(df: DataFrame) = df.agg(
        count(lit(1)).as("n"),
        sum(hash(col("event_id"), unix_seconds(col("matched")))).as("chk"))
      def auto(l: DataFrame, r: DataFrame) =
        graft.plans.AsOfJoinNative.joinAutoWithDecision(
          l, r, "user_id", "p_user", "ts", "p_ts", Seq("matched"))
      def plain(l: DataFrame, r: DataFrame) = summarize(
        graft.plans.AsOfJoinNative.join(
          l, r, "user_id", "p_user", "ts", "p_ts", Seq("matched")))

      // hot fixture: user −1 owns ~10% of both sides
      val (hl, hr) = sides(
        Amplify.eventsHotKey(ev0, amp, hotPermille = hotPermille), "hot")
      // uniform fixture: the plain amplified stream
      val (ul, ur) = sides(Amplify.events(ev0, amp), "uni")
      plain(hl, hr).head; plain(ul, ur).head // untimed JIT warmup
      var hotPlainRow: org.apache.spark.sql.Row = null
      run("asof_plain_hot_ref", amp, ev0.count() * amp) {
        hotPlainRow = plain(hl, hr).head
        (hotPlainRow.getLong(0), "")
      }
      run("asof_auto_hotkey", amp, ev0.count() * amp) {
        val (df, engaged, frac) = auto(hl, hr)
        require(engaged, f"auto mode missed the hot key (sampled frac=$frac%.3f)")
        val row = summarize(df).head
        require(row == hotPlainRow,
          s"auto(salted)/plain disagree: plain=$hotPlainRow auto=$row")
        (row.getLong(0), f"engaged=true frac=$frac%.3f")
      }
      var uniPlainRow: org.apache.spark.sql.Row = null
      run("asof_plain_uniform_ref", amp, ev0.count() * amp) {
        uniPlainRow = plain(ul, ur).head
        (uniPlainRow.getLong(0), "")
      }
      run("asof_auto_uniform", amp, ev0.count() * amp) {
        val (df, engaged, frac) = auto(ul, ur)
        require(!engaged,
          f"auto mode salted a uniform stream (sampled frac=$frac%.3f)")
        val row = summarize(df).head
        require(row == uniPlainRow,
          s"auto(plain)/plain disagree: plain=$uniPlainRow auto=$row")
        (row.getLong(0), f"engaged=false frac=$frac%.3f")
      }

      // production-WIDTH uniform pair: the probe reads (key, time) no
      // matter how wide the rows are, while the join sorts and shuffles
      // FULL rows — so the auto overhead is a CONSTANT (one narrow
      // scan + one tiny agg job), not a proportional tax; the narrow
      // 3-column fixture above is the probe's worst case by
      // construction
      val evW = Amplify.events(ev0, amp)
      val ulw = materialize(evW, "uni-lw")
      val urw = materialize(evW.filter(col("event_type") === "purchase")
        .select(col("user_id").as("p_user"), col("ts").as("p_ts"),
          col("ts").as("matched"), col("value").as("p_value")), "uni-rw")
      // the verdict must CONSUME the wide columns, or Catalyst's column
      // pruning narrows the exchange right back (observed: identical
      // shuffle bytes) — which is itself the engine doing its job
      def summarizeWide(df: DataFrame) = df.agg(
        count(lit(1)).as("n"),
        sum(hash(col("event_id"), unix_seconds(col("matched")),
          col("event_type"), col("value"), col("p_value"))).as("chk"))
      def plainWide() = summarizeWide(graft.plans.AsOfJoinNative.join(
        ulw, urw, "user_id", "p_user", "ts", "p_ts",
        Seq("matched", "p_value")))
      plainWide().head // untimed JIT warmup
      var uniWideRow: org.apache.spark.sql.Row = null
      run("asof_plain_uniform_wide", amp, ev0.count() * amp) {
        uniWideRow = plainWide().head
        (uniWideRow.getLong(0), "")
      }
      run("asof_auto_uniform_wide", amp, ev0.count() * amp) {
        val (df, engaged, frac) = graft.plans.AsOfJoinNative.joinAutoWithDecision(
          ulw, urw, "user_id", "p_user", "ts", "p_ts",
          Seq("matched", "p_value"))
        require(!engaged,
          f"auto mode salted the uniform wide stream (frac=$frac%.3f)")
        val row = summarizeWide(df).head
        require(row == uniWideRow,
          s"auto(plain)/plain disagree on wide rows: $uniWideRow vs $row")
        (row.getLong(0), f"engaged=false frac=$frac%.3f")
      }
    }

    // Write-path throughput on the delim connector: flat staged-commit
    // vs PARTITIONED (per-task per-value staged files) vs dynamic
    // overwrite of one partition. Prices the k=v layout honestly: the
    // partitioned write splits each task's output across ~5 streams
    // (event types) and the commit renames ~5× the files.
    for (amp <- amps if sections("delimwrite")) {
      val src = {
        val p = s"/tmp/graft-stress/delimwrite-src-$sfKey-$amp"
        graft.core.Scratch.rmTree(p)
        Amplify.events(ev0, amp)
          .select(col("event_id"), col("user_id"), col("value"),
            col("event_type"))
          .write.parquet(p)
        spark.read.parquet(p)
      }
      val n = src.count()
      val out = s"/tmp/graft-stress/delimwrite-out-$sfKey-$amp"
      run("delim_write_flat", amp, n) {
        src.write.format("graft-delim").mode("overwrite").save(s"$out/flat")
        (n, "")
      }
      run("delim_write_partitioned", amp, n) {
        src.write.format("graft-delim").option("partitionBy", "event_type")
          .mode("overwrite").save(s"$out/part")
        (n, "")
      }
      val errN = src.filter(col("event_type") === "error").count()
      run("delim_write_dynamic_one", amp, errN) {
        src.filter(col("event_type") === "error")
          .write.format("graft-delim").option("partitionBy", "event_type")
          .option("overwriteMode", "dynamic")
          .mode("overwrite").save(s"$out/part")
        (errN, "replaced=error only")
      }
    }

    // Pushed-In scan cost vs key-set size on the delim connector
    // (round-14 "what's wrong" #1): the runtime (DPP) path hands the
    // scan the ENTIRE broadcast build-side key set as one In, so the
    // per-row evaluation must be O(1) — the old linear nvs.exists made
    // it O(rows × keys), inverting the pruning win exactly when the
    // dim is large. With the hash-set probe the scan wall must stay
    // ~flat from 16 to 32768 keys (plans are built untimed — a 32k-
    // literal isin costs driver analysis time that is not scan cost).
    if (sections("deliminset")) {
      val p = s"/tmp/graft-stress/deliminset-$sfKey"
      graft.core.Scratch.rmTree(p)
      ev0.select(concat_ws("|", col("event_id"), col("user_id"),
          col("value")).as("line"))
        .write.mode("overwrite").text(p)
      val n = ev0.count()
      def scan = spark.read.format("graft-delim")
        .schema("event_id BIGINT, user_id BIGINT, value DOUBLE").load(p)
      for (k <- Seq(16, 1024, 32768)) {
        val keys = (0 until k).map(i => i.toLong * 7L + 1L)
        val df = scan.filter(col("event_id").isin(keys: _*))
          .agg(count(lit(1)).as("n"), sum(col("value")).as("sv"))
        df.head // untimed: plan analysis + JIT
        run("delim_in_hashset", k, n) {
          (df.head.getLong(0), s"keys=$k")
        }
      }
    }

    // As-of SQL rewrite, rule ON vs OFF. The unrewritten decorrelation
    // is NOT the obvious per-key lookup: Spark builds the subquery's
    // domain from the distinct correlated TIMES only, so the inner
    // stage is a BroadcastNestedLoopJoin of |distinct ts| × |orders|
    // (every timestamp against every order, the equality key applied
    // only in the final join-back) feeding a |distinct ts|·|custkeys|
    // -group aggregate — amp² intermediate rows and a sort-spill agg.
    // At a 1-in-10 sf0.1 slice (10k ts × 15k orders = 150M pairs) the
    // OFF side runs tens of minutes, so the head-to-head checksum
    // comparison runs on a 1-in-40 slice (2.5k × 3.75k ≈ 9.4M pairs)
    // at amp=1 only, and the ON path sweeps the 1-in-10 slice across
    // amps to show the rewritten plan stays linear.
    if (sections("asofsqlcmp")) {
      val sqlText =
        """SELECT count(*) AS n, sum(hash(event_id, m)) AS chk FROM (
          |  SELECT e.event_id,
          |         (SELECT max(o.o_orderdate) FROM stress_asql_ord o
          |          WHERE o.o_custkey = e.user_id AND o.o_orderdate <= e.ts)
          |           AS m
          |  FROM stress_asql_ev e)""".stripMargin
      // The amplified frames are localCheckpoint'd before registering:
      // stock Spark 4.1.2 crashes (PushProjectionThroughUnion:
      // NoSuchElementException during decorrelation cleanup) when a
      // correlated scalar subquery's outer table is a Union — verified
      // in a bare spark-shell with no graft rules installed. The
      // checkpoint flattens the view to a LogicalRDD, which also keeps
      // the timed region free of the amplification union's scan cost.
      def views(evMod: Int, amp: Int): Long = {
        val evBase = ev0.filter(col("event_id") % evMod === 0)
        val ordBase = graft.core.Tables.orders(spark, sf)
          .filter(col("o_orderkey") % evMod === 0)
          .select("o_custkey", "o_orderdate")
        Amplify.events(evBase, amp).localCheckpoint()
          .createOrReplaceTempView("stress_asql_ev")
        (0 until amp).map { k =>
          ordBase.select(
            (col("o_custkey") + lit(k * Amplify.IdOffset)).as("o_custkey"),
            col("o_orderdate"))
        }.reduce(_ unionByName _).localCheckpoint()
          .createOrReplaceTempView("stress_asql_ord")
        evBase.count()
      }
      def runOn(label: String, amp: Int, nRows: Long): org.apache.spark.sql.Row = {
        var row: org.apache.spark.sql.Row = null
        run(label, amp, nRows) {
          val df = spark.sql(sqlText)
          require(df.queryExecution.explainString(
              org.apache.spark.sql.execution.FormattedMode)
            .contains("AsOfJoin"), "as-of rewrite did not fire in stress")
          row = df.head
          (row.getLong(0), "")
        }
        row
      }
      if (amps.contains(1)) { // head-to-head point, small base
        val nSmall = views(evMod = 40, amp = 1)
        val onRow = runOn("asof_sql_rule_on_small", 1, nSmall)
        run("asof_sql_rule_off_small", 1, nSmall) {
          val row = withoutRule(spark, classOf[graft.plans.AsOfRewriteRule])(
            spark.sql(sqlText).head)
          require(row == onRow,
            s"as-of rule on/off disagree: on=$onRow off=$row")
          (row.getLong(0), "")
        }
      }
      for (amp <- amps) { // linearity sweep, 1-in-10 base, rule on
        val nBase = views(evMod = 10, amp = amp)
        runOn("asof_sql_rule_on", amp, nBase * amp)
      }
    }

    lazy val evS = Amplify.events(ev0, amps.max)
    for (chunks <- Seq(4, 8, 16) if sections("chunks")) {
      run(s"stream_interval_join_chunks$chunks", amps.max, ev0.count() * amps.max) {
        intervalJoinRun(evS,
          s"${graft.certs.CertSupport.scratchDir("stress_stream")}/ch$chunks-amp${amps.max}-$sfKey",
          chunks)
      }
    }

    // 12. Manifest listing vs recursive namespace crawl (round 16): the
    // snapshot manifest's metadata claim, measured. A table is laid out
    // as `amp` k=v partitions × 32 files each; planning-time listing is
    // timed (a) FROM the manifest and (b) with the manifest removed
    // (the legacy recursive walk). Both must return the identical file
    // set — this is a pure metadata race, no bytes read.
    for (amp <- amps if sections("manifestlist")) {
      val nParts = 64 * amp
      val root = s"/tmp/graft_stress_manifest_$sfKey/p$amp"
      graft.core.Scratch.rmTree(root)
      spark.range(nParts.toLong * 32)
        .selectExpr("id", s"concat('p', id % $nParts) AS pc")
        .repartition(32)
        .write.format("graft-delim").option("partitionBy", "pc")
        .mode("overwrite").save(root)
      val conf = spark.sessionState.newHadoopConf()
      def listN(): Long =
        graft.sources.v2.DelimV2.listSnapshot(Seq(root), conf).files.size
      // warm the FS metadata cache once so both sides race warm
      listN()
      var manifestFiles = 0L
      run("manifest_listing", amp, nParts.toLong) {
        var n = 0L
        for (_ <- 1 to 20) n = listN()
        manifestFiles = n
        (n, "mode=manifest|reps=20")
      }
      val hp = new org.apache.hadoop.fs.Path(root)
      val fs = hp.getFileSystem(conf)
      fs.delete(new org.apache.hadoop.fs.Path(hp,
        graft.sources.v2.DelimLog.ManifestFile), false)
      run("recursive_listing", amp, nParts.toLong) {
        var n = 0L
        for (_ <- 1 to 20) n = listN()
        require(n == manifestFiles,
          s"listing modes disagree: manifest=$manifestFiles recursive=$n")
        (n, "mode=recursive|reps=20")
      }
      graft.core.Scratch.rmTree(root)
    }

    // 13. VECTORIZED graft-delim scan vs Spark's CSV source: one
    // pipe-delimited lineitem fixture (amp × sf rows, 11 typed
    // columns), read both ways over the SAME files with the same
    // schema. Three query shapes: the WIDE scan (every column consumed
    // by an aggregate), a NARROW 2-column projection, and a SELECTIVE
    // pushed filter. Checksums must agree across both readers — a fast
    // wrong reader is not a reader.
    for (amp <- amps if sections("columnarscan")) {
      val p = s"/tmp/graft_stress_colscan_$sfKey/a$amp"
      graft.core.Scratch.rmTree(p)
      val li0 = graft.core.Tables.lineitem(spark, sf)
      val li = (1 to amp).map(i =>
        li0.withColumn("l_orderkey", col("l_orderkey") + lit(i.toLong * 100000000L)))
        .reduce(_ unionByName _)
      li.select(concat_ws("|",
          col("l_orderkey"), col("l_partkey"), col("l_suppkey"),
          col("l_linenumber"), col("l_quantity"), col("l_extendedprice"),
          col("l_discount"), col("l_tax"), col("l_returnflag"),
          col("l_linestatus"), col("l_shipdate").cast("date")).as("line"))
        .repartition(32)
        .write.mode("overwrite").text(p)
      val n = li0.count() * amp
      val schema = "l_orderkey BIGINT, l_partkey BIGINT, l_suppkey BIGINT, " +
        "l_linenumber INT, l_quantity DOUBLE, l_extendedprice DOUBLE, " +
        "l_discount DOUBLE, l_tax DOUBLE, l_returnflag STRING, " +
        "l_linestatus STRING, l_shipdate DATE"
      def reader(mode: String) = mode match {
        case "csv" => spark.read.format("csv")
          .option("sep", "|").option("quote", "\"").schema(schema).load(p)
        case _ => spark.read.format("graft-delim").schema(schema).load(p)
      }
      val checks = scala.collection.mutable.Map.empty[String, Seq[Any]]
      for (mode <- Seq("delim", "csv")) {
        // FRESH DataFrame per pass: re-collecting one DataFrame object
        // reuses AQE's already-materialized shuffle stages, so only
        // the final reduce re-runs and the "scan" measures nothing
        // (observed: 9.6M text rows in 0.03s, tasks=1)
        def shapeDf(shape: String) = shape match {
          case "wide" => reader(mode).agg(
            sum(col("l_orderkey")).as("k"),
            round(sum(col("l_quantity") + col("l_extendedprice") +
              col("l_discount") + col("l_tax")), 2).as("s"),
            sum(col("l_partkey") + col("l_suppkey") + col("l_linenumber")).as("k2"),
            sum(length(col("l_returnflag")) + length(col("l_linestatus"))).as("ls"),
            max(col("l_shipdate")).as("d"),
            count(lit(1)).as("n"))
          case "narrow" => reader(mode)
            .agg(sum(col("l_orderkey")).as("k"),
              round(sum(col("l_quantity")), 2).as("q"))
          case _ => reader(mode)
            .filter(col("l_returnflag") === "R" && col("l_quantity") >= 49.0)
            .agg(count(lit(1)).as("n"), sum(col("l_orderkey")).as("k"))
        }
        for (shape <- Seq("wide", "narrow", "selective")) {
          shapeDf(shape).collect() // untimed warm pass (JIT + codegen)
          run(s"colscan_${shape}_$mode", amp, n) {
            val r = shapeDf(shape).collect().head.toSeq
            checks.get(shape) match {
              case Some(prev) => require(prev == r,
                s"$shape checksum diverged for $mode: $r vs $prev")
              case None => checks(shape) = r
            }
            (r.last match { case l: Long => l; case _ => n }, s"mode=$mode")
          }
        }
      }
      graft.core.Scratch.rmTree(p)
    }

    // 14. Pushed-TopN scan: graft-delim's per-split VECTORIZED heap vs
    // Spark's CSV source sorting the same files: same lineitem fixture
    // as §13, `ORDER BY l_extendedprice DESC LIMIT 100` + a tiebreaker
    // so the result set is deterministic; both must return identical
    // rows.
    for (amp <- amps if sections("topnscan")) {
      val p = s"/tmp/graft_stress_topn_$sfKey/a$amp"
      graft.core.Scratch.rmTree(p)
      val li0 = graft.core.Tables.lineitem(spark, sf)
      val li = (1 to amp).map(i =>
        li0.withColumn("l_orderkey", col("l_orderkey") + lit(i.toLong * 100000000L)))
        .reduce(_ unionByName _)
      li.select(concat_ws("|",
          col("l_orderkey"), col("l_partkey"), col("l_quantity"),
          col("l_extendedprice"), col("l_returnflag")).as("line"))
        .repartition(32)
        .write.mode("overwrite").text(p)
      val n = li0.count() * amp
      val schema = "l_orderkey BIGINT, l_partkey BIGINT, " +
        "l_quantity DOUBLE, l_extendedprice DOUBLE, l_returnflag STRING"
      def topn(mode: String) = (mode match {
        case "csv" => spark.read.format("csv").option("sep", "|")
        case _ => spark.read.format("graft-delim")
      }).schema(schema).load(p)
        .orderBy(col("l_extendedprice").desc, col("l_orderkey").asc)
        .limit(100)
      val plan = topn("delim").queryExecution.executedPlan.toString
      require(plan.contains("PushedTopN"),
        s"TopN must stay pushed on the graft-delim scan:\n$plan")
      var expect: Seq[Seq[Any]] = null
      for (mode <- Seq("delim", "csv")) {
        topn(mode).collect() // warm
        run(s"topn_scan_$mode", amp, n) {
          val r = topn(mode).collect().map(_.toSeq).toSeq
          if (expect == null) expect = r
          else require(r == expect, s"TopN rows diverged on $mode")
          (r.size.toLong, s"mode=$mode|k=100")
        }
      }
      graft.core.Scratch.rmTree(p)
    }

    // 14b. BLOOM-SIDECAR equality probe: the same hash-shuffled fixture
    // written with and without `bloomFor` — an absent-key `=` probe on
    // the bloomed table opens 32 sidecars (32 KB each) and ZERO data
    // bytes; the unbloomed table scans everything. A present-key probe
    // prices the true-positive path (one file survives the gate).
    for (amp <- amps if sections("bloomscan")) {
      val p = s"/tmp/graft_stress_bloom_$sfKey/a$amp"
      graft.core.Scratch.rmTree(p)
      // keys DOUBLED: odd keys are in-range-but-absent — only the
      // bloom can skip them (an out-of-range key is min/max-skipped
      // at planning and never exercises the sidecar)
      val li0 = graft.core.Tables.lineitem(spark, sf)
        .select((col("l_orderkey") * 2).as("l_orderkey"),
          col("l_extendedprice"), col("l_shipdate").cast("string").as("l_note"))
      val li = (1 to amp).map(i =>
        li0.withColumn("l_orderkey", col("l_orderkey") + lit(i.toLong * 100000000L)))
        .reduce(_ unionByName _)
      val n = li0.count() * amp
      for (mode <- Seq("bloom", "plain")) {
        // 8 files (~20 MB each at amp=8): the probe-vs-scan crossover is
        // per-file SIZE — a 32 KB probe against a few-MB file is a wash,
        // against a 128 MB production file it is the whole win
        val nf = math.max(4, 32 / math.max(amp / 8, 1)) // bigger amp -> fewer, LARGER files
        var w = li.repartition(nf).write.format("graft-delim").mode("overwrite")
        if (mode == "bloom") w = w.option("bloomFor", "l_orderkey")
        w.save(s"$p/$mode")
        val schema = "l_orderkey BIGINT, l_extendedprice DOUBLE, l_note STRING"
        def probe(key: Long) = spark.read.format("graft-delim")
          .schema(schema).load(s"$p/$mode")
          .filter(col("l_orderkey") === key)
          .agg(count(lit(1)).as("n"), sum(col("l_extendedprice")).as("s"))
        probe(1L).collect() // warm
        run(s"bloom_probe_absent_$mode", amp, n) {
          var hits = 0L
          for (_ <- 1 to 5)
            hits = probe(4L * 100000000L + 2001L).collect()(0).getLong(0) // odd: in range, absent
          require(hits == 0L)
          (hits, s"mode=$mode|reps=5")
        }
        run(s"bloom_probe_present_$mode", amp, n) {
          var hits = 0L
          for (_ <- 1 to 5) hits = probe(100000002L).collect()(0).getLong(0)
          require(hits >= 1L, s"present key missing under $mode")
          (hits, s"mode=$mode|reps=5")
        }
      }
      graft.core.Scratch.rmTree(p)
    }

    // 15. MANIFEST SCALE ENVELOPE (round-18 verdict ask #3): the
    // `_manifest` is ONE document carrying every file entry + its
    // stats — the driver parses the whole list per planning and every
    // commit rewrites it. This sweep prices exactly those two driver
    // paths at 1k/10k/100k entries with FABRICATED entries (metadata
    // costs need no data bytes): commit (serialize + claim + swap),
    // parse (readManifestFile), and the planning proxy
    // (listedFromManifest + a selective stats-skipping pass over every
    // entry). The curve decides when Iceberg-style manifest
    // segmentation becomes mandatory — see STRESS.md.
    for (nEntries <- Seq(1000, 10000, 100000)
        if sections("manifestscale") && amps.contains(1)) {
      import graft.sources.v2.{DelimLog, DelimV2}
      val root = s"/tmp/graft_stress_manifest_scale/n$nEntries"
      graft.core.Scratch.rmTree(root)
      val hp = new org.apache.hadoop.fs.Path(root)
      val conf = spark.sessionState.newHadoopConf()
      val fs = hp.getFileSystem(conf)
      fs.mkdirs(hp)
      val struct = org.apache.spark.sql.types.StructType.fromDDL(
        "id BIGINT, v DOUBLE, s STRING, pc STRING")
      val schema = DelimLog.ManifestSchema(Seq("pc"), struct)
      val entries = (0 until nEntries).map { i =>
        val lo = i.toLong * 1000
        DelimLog.ManifestEntry(1L << 27, 1L, f"pc=p${i % 1000}%04d/part-$i%07d.txt",
          DelimV2.encodeStats(50000L, Seq(
            ("id", lo.toString, (lo + 999).toString, 0L),
            ("v", "0.0", "1.0", 10L),
            ("s", "aaaa", "zzzz", 0L))))
      }
      val m = DelimLog.DelimManifest(entries, multiLine = false, gen = 1L,
        retain = 1, schemas = Map(1L -> schema))
      var mGen = 1L
      run("manifest_commit", nEntries, nEntries.toLong) {
        for (_ <- 1 to 5) {
          // each rep commits the same entries as the next generation
          DelimLog.commit(fs, hp, m.copy(gen = mGen - 1))((_, _) => m)
          mGen += 1
        }
        (nEntries.toLong, "reps=5")
      }
      run("manifest_parse", nEntries, nEntries.toLong) {
        var parsed = 0L
        for (_ <- 1 to 5)
          parsed = DelimLog.readManifest(fs, hp).get.files.size.toLong
        require(parsed == nEntries)
        (parsed, "reps=5")
      }
      run("manifest_plan_prune", nEntries, nEntries.toLong) {
        // the per-planning driver walk: decode every entry's stats and
        // evaluate a selective predicate against its bounds (what
        // planInputPartitions does after pruning)
        var kept = 0L
        for (_ <- 1 to 5) {
          val mm = DelimLog.readManifest(fs, hp).get
          val listed = DelimV2.listedFromManifest(hp, mm)
          val pred = DelimV2.compileStatsPredicate(
            org.apache.spark.sql.sources.GreaterThanOrEqual(
              "id", (nEntries.toLong - 2) * 1000),
            c => struct.fields.find(_.name == c).map(_.dataType))
          kept = listed.count(f => f.stats != null && pred(f.stats)).toLong
        }
        require(kept == 2, s"stats skipping kept $kept of $nEntries")
        (kept, "reps=5|selective_ge")
      }
      graft.core.Scratch.rmTree(root)
    }

    // 15b. SEGMENTED MANIFEST RE-SWEEP (round-19 verdict ask #1): the
    // same fabricated-entry protocol with `manifestSegmentSize`
    // engaged, extended to 1M entries — the curve segmentation exists
    // to flatten. Timed paths per size: COLD commit (first
    // segmentation: every chunk written once), INCREMENTAL commit (a
    // one-partition append — re-chunks one run, rewrites one segment
    // + the index; the nightly-load shape), cold/warm full parse, and
    // PRUNED planning (a pushed partition equality loads only that
    // partition's segments from a cold cache). At 1M entries the
    // inline design is also priced once for the direct comparison.
    for (nEntries <- Seq(100000, 300000, 1000000)
        if sections("manifestscale") && amps.contains(1)) {
      import graft.sources.v2.{DelimLog, DelimV2}
      val root = s"/tmp/graft_stress_manifest_seg/n$nEntries"
      graft.core.Scratch.rmTree(root)
      val hp = new org.apache.hadoop.fs.Path(root)
      val conf = spark.sessionState.newHadoopConf()
      val fs = hp.getFileSystem(conf)
      fs.mkdirs(hp)
      val struct = org.apache.spark.sql.types.StructType.fromDDL(
        "id BIGINT, v DOUBLE, s STRING, pc STRING")
      val schema = DelimLog.ManifestSchema(Seq("pc"), struct)
      def mkStats(i: Int): String = {
        val lo = i.toLong * 1000
        DelimV2.encodeStats(50000L, Seq(
          ("id", lo.toString, (lo + 999).toString, 0L),
          ("v", "0.0", "1.0", 10L),
          ("s", "aaaa", "zzzz", 0L)))
      }
      val entries = (0 until nEntries).map { i =>
        DelimLog.ManifestEntry(1L << 27, 1L,
          f"pc=p${i % 1000}%04d/part-$i%07d.txt", mkStats(i))
      }
      val perPart = nEntries / 1000
      val m = DelimLog.DelimManifest(entries, multiLine = false, gen = 1L,
        retain = 1, schemas = Map(1L -> schema), segSize = 2048)
      if (nEntries == 1000000) {
        // the inline document at 1M entries, priced once: the number
        // the DESIGN NOTE extrapolated — now measured
        val rootI = s"/tmp/graft_stress_manifest_seg/inline$nEntries"
        graft.core.Scratch.rmTree(rootI)
        val hpI = new org.apache.hadoop.fs.Path(rootI)
        fs.mkdirs(hpI)
        var g = 1L
        run("manifest_inline_commit", nEntries, nEntries.toLong) {
          for (_ <- 1 to 2) {
            DelimLog.commit(fs, hpI, m.copy(gen = g - 1))(
              (_, _) => m.copy(segSize = 0))
            g += 1
          }
          (nEntries.toLong, "reps=2|segsize=0")
        }
        run("manifest_inline_parse", nEntries, nEntries.toLong) {
          var parsed = 0L
          for (_ <- 1 to 2)
            parsed = DelimLog.readManifest(fs, hpI).get.files.size.toLong
          require(parsed == nEntries)
          (parsed, "reps=2|segsize=0")
        }
        graft.core.Scratch.rmTree(rootI)
      }
      run("manifest_seg_commit_cold", nEntries, nEntries.toLong) {
        DelimLog.clearSegCaches()
        DelimLog.commit(fs, hp, m.copy(gen = 0L))((_, _) => m)
        (nEntries.toLong, "reps=1|segsize=2048")
      }
      run("manifest_seg_parse_cold", nEntries, nEntries.toLong) {
        var parsed = 0L
        for (_ <- 1 to 5) {
          DelimLog.clearSegCaches()
          parsed = DelimLog.readManifest(fs, hp).get.files.size.toLong
        }
        require(parsed == nEntries)
        (parsed, "reps=5|segsize=2048")
      }
      run("manifest_seg_parse_warm", nEntries, nEntries.toLong) {
        var parsed = 0L
        for (_ <- 1 to 5)
          parsed = DelimLog.readManifest(fs, hp).get.files.size.toLong
        require(parsed == nEntries)
        (parsed, "reps=5|segsize=2048")
      }
      run("manifest_seg_plan_pruned", nEntries, nEntries.toLong) {
        var kept = 0L
        for (_ <- 1 to 5) {
          DelimLog.clearSegCaches()
          kept = DelimLog.readManifest(fs, hp,
            prune = Seq(("pc", Seq("p0500")))).get.files.size.toLong
        }
        require(kept == perPart, s"pruned plan kept $kept, expected $perPart")
        (kept, "reps=5|segsize=2048|pruned_to_1_of_1000_partitions")
      }
      var all = entries
      var mGen = 1L
      run("manifest_seg_commit_incr", nEntries, nEntries.toLong) {
        // warm driver (segKnown primed): each rep appends ONE file to
        // one partition — the re-chunk touches that partition's run
        for (_ <- 1 to 5) {
          val prev = m.copy(gen = mGen, files = all)
          mGen += 1
          all = all :+ DelimLog.ManifestEntry(1L << 27, mGen,
            f"pc=p0001/part-x$mGen%07d.txt", mkStats(nEntries + mGen.toInt))
          DelimLog.commit(fs, hp, prev)((_, _) => prev.copy(files = all))
        }
        (nEntries.toLong, "reps=5|segsize=2048|one_partition_append")
      }
      graft.core.Scratch.rmTree(root)
    }
    spark.stop()
  }
}
