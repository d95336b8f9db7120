package graft
package certs

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.Tables
import graft.ext.Funnel
import graft.stream.{EventWindows, SessionClose, SessionCloseTws,
  SessionTracker, StreamRun, StreamingReconcile, UserProfileTws}
import graft.stream.StreamRun.Sink

import CertSupport._

/** Event-time and streaming certifications. Windowed aggregations have
  * batch twins (what DuckDB can oracle-check) and real micro-batch
  * variants that run the same code paths as bounded streams under the
  * twin's oracle; stateful ones cover state-store restarts, timeouts,
  * transformWithState and state export.
  */
object StreamCerts {

  /** The certs that need RocksDB (transformWithState) or certify it
    * run on the provider `GraftSession.builder` declares. A cert never
    * rewrites its caller's session: a session built elsewhere fails here,
    * naming the provider it carries.
    */
  private def requireRocksDb(s: SparkSession): Unit = {
    val provider = s.conf.get("spark.sql.streaming.stateStore.providerClass")
    require(provider ==
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
      "this certification runs on the RocksDB state store that " +
        s"GraftSession.builder sets; the session's provider is $provider")
  }

  /** Gap sessions per user (identical session derivation to
    * events_sessions), emitted iff closed: every non-final session of a
    * user (a successor event proves the gap), plus final sessions whose
    * timeout the final watermark passed. The engine compares timeout
    * timestamps in floored MILLISECONDS: timeout fires iff
    * epoch_ms(session_end) + gap < epoch_ms(max ts) - lateness, strict,
    * mirrored here exactly. ONE definition serves the AvailableNow, live
    * and restart runs — that equality is the certification.
    */
  private def sessionCloseOracle(where: String): String =
    sessionOracle(where,
      """WHERE s.session_id < l.last_id
        |   OR epoch_ms(s.session_end) + 1800000 < wm.wm_ms""".stripMargin)

  /** The COMPLEMENT: sessions still OPEN at stream end (each user's
    * last session whose timeout the final watermark never reached) —
    * what the state store must still hold, never emitted.
    */
  private def sessionOpenTailOracle(where: String): String =
    sessionOracle(where,
      """WHERE s.session_id = l.last_id
        |  AND epoch_ms(s.session_end) + 1800000 >= wm.wm_ms""".stripMargin)

  private def sessionOracle(where: String, finalPredicate: String): String =
    s"""WITH base AS (SELECT user_id, ts, value FROM events $where),
      |marked AS (
      |  SELECT user_id, ts, value,
      |         CASE WHEN lag(ts) OVER w IS NULL
      |                OR ts - lag(ts) OVER w > INTERVAL '30 minutes'
      |              THEN 1 ELSE 0 END AS new_session
      |  FROM base WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
      |numbered AS (
      |  SELECT user_id, ts, value,
      |         sum(new_session) OVER (PARTITION BY user_id ORDER BY ts
      |           ROWS UNBOUNDED PRECEDING) AS session_id
      |  FROM marked),
      |sess AS (
      |  SELECT user_id, session_id, min(ts) AS session_start,
      |         max(ts) AS session_end, count(*) AS n_events,
      |         floor(sum(value) * 100 + 0.5) / 100 AS sum_value
      |  FROM numbered GROUP BY user_id, session_id),
      |lastsess AS (
      |  SELECT user_id, max(session_id) AS last_id FROM sess GROUP BY 1),
      |wm AS (SELECT epoch_ms(max(ts)) - 3600000 AS wm_ms FROM base)
      |SELECT s.session_start, s.user_id, s.n_events, s.sum_value
      |FROM sess s JOIN lastsess l ON s.user_id = l.user_id, wm
      |$finalPredicate""".stripMargin

  /** One profile oracle serves the emission tier AND the state-export
    * rebuild — that equality is the certification. */
  private val profileOracle: String =
    """WITH ranked AS (
        |  SELECT user_id, value, event_id,
        |         row_number() OVER (PARTITION BY user_id
        |           ORDER BY value DESC, event_id DESC) AS rn
        |  FROM events),
        |agg AS (
        |  SELECT user_id, count(*) AS n_events,
        |         count(DISTINCT event_type) AS n_types
        |  FROM events GROUP BY 1),
        |top3 AS (
        |  SELECT user_id, floor(sum(value) * 100 + 0.5) / 100 AS top3_sum
        |  FROM ranked WHERE rn <= 3 GROUP BY 1),
        |top1 AS (SELECT user_id, event_id AS top_event_id FROM ranked WHERE rn = 1)
        |SELECT a.user_id, a.n_events, a.n_types, t.top3_sum, o.top_event_id
        |FROM agg a JOIN top3 t ON a.user_id = t.user_id
        |           JOIN top1 o ON a.user_id = o.user_id""".stripMargin

  private val TumblingOracle =
    """SELECT time_bucket(INTERVAL '1 hour', ts) AS window_start,
      |       event_type, count(*) AS n_events, round(sum(value), 2) AS sum_value
      |FROM events GROUP BY 1, 2""".stripMargin

  private val SessionsOracle =
    """WITH marked AS (
      |  SELECT user_id, ts, value,
      |         CASE WHEN lag(ts) OVER w IS NULL
      |                OR ts - lag(ts) OVER w > INTERVAL '30 minutes'
      |              THEN 1 ELSE 0 END AS new_session
      |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
      |numbered AS (
      |  SELECT user_id, ts, value,
      |         sum(new_session) OVER (PARTITION BY user_id ORDER BY ts
      |           ROWS UNBOUNDED PRECEDING) AS session_id
      |  FROM marked)
      |SELECT min(ts) AS session_start, user_id,
      |       count(*) AS n_events, round(sum(value), 2) AS sum_value
      |FROM numbered GROUP BY user_id, session_id""".stripMargin

  private val SlidingOracle =
    """SELECT time_bucket(INTERVAL '30 minutes', ts)
      |         - INTERVAL '30 minutes' * k.k AS window_start,
      |       event_type, count(*) AS n_events
      |FROM events CROSS JOIN (VALUES (0), (1)) AS k(k)
      |GROUP BY 1, 2""".stripMargin

  private val TumblingFinalizedOracle =
    """WITH m AS (SELECT max(ts) - INTERVAL 1 HOUR AS wm FROM events)
      |SELECT time_bucket(INTERVAL '1 hour', ts) AS window_start,
      |       event_type, count(*) AS n_events, round(sum(value), 2) AS sum_value
      |FROM events, m
      |GROUP BY 1, 2, m.wm
      |HAVING window_start + INTERVAL 1 HOUR <= m.wm""".stripMargin

  /** The session-close machine (`SessionCloseTws`: StatefulProcessor +
    * typed ValueState + event-time timers fired through
    * handleExpiredTimer, on the RocksDB provider it requires) over the
    * chunked events. Each per-user gap session is emitted EXACTLY ONCE:
    * by a successor event proving the gap elapsed (data-batch close),
    * or by its timer once the WATERMARK passes session end + gap —
    * which for the final sessions of a bounded run only the trailing
    * no-data micro-batch delivers. The two requires pin exactly that:
    * the run's last trigger consumed zero input AND contributed
    * emissions. Sessions the final watermark never times out (the live
    * tail within gap+lateness of stream end) are never emitted; the
    * oracle encodes both the emission rule and the engine's millisecond
    * timeout arithmetic (epoch_ms floors).
    */
  private def sessionCloseRun(s: SparkSession, dir: String, out: String): DataFrame = {
    val src = eventsChunks(s, dir)
    import s.implicits._
    val ev = src.select(col("user_id"), col("ts"), col("value"))
      .withWatermark("ts", "1 hour")
      .as[SessionClose.Event]
    requireRocksDb(s)
    val (res, stats) = StreamRun.runAvailableNow(
      SessionCloseTws.close(ev, gapMinutes = 30).toDF(),
      s"$out/run", Sink.Update, noDataBatch = true)
    val last = stats.last
    require(last.inputRows == 0L,
      s"final trigger must be the engine's no-data batch: $stats")
    require(res.filter(col("batch_id") === last.batchId).limit(1).count() == 1L,
      "the no-data batch must contribute timer-fired session closes")
    res.drop("batch_id")
  }

  val all: Seq[Cert] = Seq(
    // X6, the session-close state machine EXECUTED BY THE STREAMING
    // ENGINE on transformWithState (see sessionCloseRun) — emitted
    // sessions only, the ones whose close the watermark proved.
    Cert.scratch("events_session_timeout_stream", sessionCloseOracle(""),
      stream = true)(sessionCloseRun),
    // The same run under the name that certifies the transformWithState
    // API and its RocksDB provider (one function, so the two cannot
    // drift).
    Cert.scratch("events_session_tws_stream", sessionCloseOracle(""),
      stream = true)(sessionCloseRun),
    // X6, CUSTOM-STATE stop/restart recovery — the strongest recovery
    // certification the engine has: drain the first half of the (u150)
    // events through the transformWithState session machine (INCLUDING
    // its trailing no-data batch, as a scheduled job's final run
    // would), stop, land the second half, restart against the SAME
    // checkpoint under RocksDB. The engine must restore per-user OPEN
    // SESSIONS and their REGISTERED EVENT-TIME TIMERS: boundary-
    // straddling sessions must merge with their run-2 continuations,
    // idle users' recovered timers must still fire, and the union of
    // both runs' emissions must equal the single-run session answer —
    // which the oracle certifies verbatim. Engine-level invariants
    // (resumed batch numbering, late-files-only reads) are `require`d
    // in the runner.
    Cert.scratch("events_session_restart_tws",
      // restart must reproduce the SINGLE-RUN session answer over the
      // whole (u150) stream — possible only if open-session state AND
      // registered timers were restored from the checkpoint
      sessionCloseOracle("WHERE user_id < 150"), stream = true) { (s, dir, out) =>
      val ev = Tables.events(s, dir).filter(col("user_id") < 150)
      val (early, late) = splitAtMidpoint(ev)
      import s.implicits._
      requireRocksDb(s)
      val (res, _, run2) = StreamRun.runRestart(
        early, late,
        src => SessionCloseTws.close(
          src.select(col("user_id"), col("ts"), col("value"))
            .withWatermark("ts", "1 hour")
            .as[SessionClose.Event], gapMinutes = 30).toDF(),
        s"$out/run", Sink.Update)
      require(run2.last.inputRows == 0L,
        s"run 2 must end in a no-data batch firing recovered timers: $run2")
      res.drop("batch_id")
    },
    // X6, stop/restart recovery under the ROCKSDB state store provider —
    // at 100 TB-state the default in-memory provider is the scale
    // killer (state must fit the executor heap); RocksDB spills state
    // to local disk with incremental checkpointing and is the provider
    // a production deployment of every stateful query here would run.
    // Same scenario and invariants as events_restart_stream
    // (runRestart `require`s resumed batch numbering +
    // late-files-only reads; the oracle certifies the restored-state
    // aggregation), on the user_id<150 bench-cost prefix — which at the
    // sf0.01 correctness gate is the whole table.
    Cert.scratch("events_restart_rocksdb",
      // identical to events_windowed restricted to the bench-cost prefix
      // — recovery under RocksDB is only certified if the restarted run
      // reproduces the batch aggregation, restored state included
      """SELECT time_bucket(INTERVAL '1 hour', ts) AS window_start,
        |       event_type, count(*) AS n_events, round(sum(value), 2) AS sum_value
        |FROM events WHERE user_id < 150 GROUP BY 1, 2""".stripMargin, stream = true) { (s, dir, out) =>
      val ev = Tables.events(s, dir).filter(col("user_id") < 150)
      val (early, late) = splitAtMidpoint(ev)
      requireRocksDb(s)
      val (result, _, _) = StreamRun.runRestart(
        early, late,
        src => EventWindows.tumblingStream(src, "1 hour", "1 hour"),
        s"$out/run", Sink.Complete)
      result
    },
    // X6 observability — the WATERMARK LATE-DATA drop audit (the
    // streaming analogue of dedup_lsh_drop_audit): every 50th event_id
    // from the stream's first time-quarter is displaced to arrive AFTER
    // the whole backlog, so the advanced watermark must drop all of
    // them. The require certifies the engine's own accounting
    // (numRowsDroppedByWatermark summed over triggers = the displaced
    // row count); the certified OUTPUT is the per-window audit a
    // pipeline operator actually reads — finalized windows' batch count
    // minus streamed count — which the oracle recomputes from the same
    // lateness rule. Windows losing rows without the stream noticing,
    // or drops leaking into emitted counts, both break the compare.
    Cert.scratch("events_late_audit",
      // the displaced subset per window IS the expected drop count; the
      // finalization cutoff mirrors events_windowed_stream_append's rule
      // (windows within lateness of stream end are never emitted, hence
      // never audited — displaced windows all sit in the first quarter,
      // far inside the cutoff)
      """WITH b AS (SELECT min(ts) AS mn, max(ts) AS mx FROM events),
        |late AS (
        |  SELECT e.* FROM events e, b
        |  WHERE e.event_id % 50 = 0
        |    AND epoch_us(e.ts) < epoch_us(b.mn)
        |          + (epoch_us(b.mx) - epoch_us(b.mn)) // 4)
        |SELECT time_bucket(INTERVAL '1 hour', ts) AS window_start,
        |       event_type, count(*) AS n_dropped
        |FROM late, b
        |GROUP BY 1, 2, b.mx
        |HAVING window_start + INTERVAL 1 HOUR <= b.mx - INTERVAL 1 HOUR"""
        .stripMargin, stream = true) { (s, dir, out) =>
      val ev = Tables.events(s, dir)
      val b = ev.agg(min(unix_micros(col("ts"))), max(unix_micros(col("ts")))).head()
      val (mn, mx) = (b.getLong(0), b.getLong(1))
      val q1 = mn + (mx - mn) / 4
      val isLate = col("event_id") % 50 === 0 && unix_micros(col("ts")) < lit(q1)
      // 2 on-time chunks (was 4), the same cut the join-late audit
      // takes: the displaced file lands AFTER the backlog either
      // way, and by then the watermark sits at max(ts)−delay regardless
      // of how many triggers advanced it — the drop accounting and the
      // certified output are chunk-count-invariant
      val src = StreamRun.chunkedSourceWithLate(
        s, ev.filter(!isLate), ev.filter(isLate), s"$out/src", 2)
      val (streamed, stats) = StreamRun.runAvailableNow(
        EventWindows.tumblingStream(src, "1 hour", "1 hour"),
        s"$out/run", Sink.Append)
      val nLate = ev.filter(isLate).count()
      require(nLate > 0, "fixture must yield displaced rows for the audit")
      // numRowsDroppedByWatermark counts rows reaching the STATE
      // operator, i.e. post-partial-aggregation (window, type) partial
      // rows, not raw inputs — at sf0.1 the 498 displaced rows combine
      // map-side into 409 partial rows, every one dropped. The sound
      // engine-accounting bounds: at least one partial row per distinct
      // displaced group, at most one per displaced raw row — and zero
      // drops anywhere outside the displaced batch (asserted by nothing
      // else being late). The EXACT per-row accounting is the certified
      // OUTPUT below, which the oracle recomputes group-exactly.
      val lateGroups = ev.filter(isLate)
        .select(window(col("ts"), "1 hour"), col("event_type")).distinct().count()
      val dropped = stats.map(_.rowsDroppedByWatermark).sum
      require(dropped >= lateGroups && dropped <= nLate,
        s"engine-reported drops must cover the displaced set " +
          s"($lateGroups groups, $nLate rows): $stats")
      val batch = EventWindows.tumbling(ev, "1 hour")
        .select(col("window_start"), col("event_type"),
          col("n_events").as("batch_events"))
      val finalized = batch.filter(
        col("window_start") + expr("INTERVAL 1 HOUR")
          <= timestamp_micros(lit(mx)) - expr("INTERVAL 1 HOUR"))
      finalized.join(
          streamed.select(col("window_start"), col("event_type"),
            col("n_events").as("stream_events")),
          Seq("window_start", "event_type"), "left_outer")
        .select(col("window_start"), col("event_type"),
          (col("batch_events") - coalesce(col("stream_events"), lit(0L)))
            .as("n_dropped"))
        .filter(col("n_dropped") > 0)
    },
    // X6, CHAINED STATEFUL OPERATORS in one streaming query — the
    // multi-stateful-operator pipeline (watermark PROPAGATION between
    // operators) that every other X6 query, each with a single stateful
    // op, leaves unexercised: dropDuplicatesWithinWatermark keyed by
    // (user, type, hour) feeding a windowed count aggregation, append
    // mode. The dedup's output must carry a correctly-delayed watermark
    // into the aggregation for its finalization/eviction to be sound —
    // a propagation bug double-counts or drops windows and fails the
    // hash. The dedup's event-time column is the hour-TRUNCATED
    // timestamp (a plain column; an earlier draft keyed on the window()
    // STRUCT as event time and a chunk-boundary-straddling key was
    // re-emitted despite unexpired state — plain-column expiry is the
    // documented, observed-exact path), with the delay widened to 2 h
    // because truncation shifts event times up to 1 h earlier. Dedup is
    // then exact BY CONSTRUCTION (all rows of an hour arrive while that
    // hour's state is live on an event-time-ordered source), so the
    // oracle is the plain distinct-then-aggregate under the append
    // finalization cutoff at the truncated watermark.
    Cert.scratch("events_dedup_windowed_stream",
      // distinct-then-aggregate with the append finalization cutoff —
      // the watermark rides the hour-truncated event time with a 2 h
      // delay, so the cutoff is date_trunc(hour, max ts) − 2 h
      """WITH m AS (
        |  SELECT date_trunc('hour', max(ts)) - INTERVAL 2 HOUR AS wm FROM events),
        |dd AS (SELECT DISTINCT user_id, event_type,
        |              time_bucket(INTERVAL '1 hour', ts) AS window_start
        |       FROM events)
        |SELECT window_start, event_type, count(*) AS n_users
        |FROM dd, m
        |GROUP BY 1, 2, m.wm
        |HAVING window_start + INTERVAL 1 HOUR <= m.wm""".stripMargin, stream = true) { (s, dir, out) =>
      val src = eventsChunks(s, dir)
      val dedup = src
        .withColumn("wstart", date_trunc("hour", col("ts")))
        .withWatermark("wstart", "2 hours")
        .select(col("user_id"), col("event_type"), col("wstart"))
        .dropDuplicatesWithinWatermark("user_id", "event_type", "wstart")
      StreamRun.runAvailableNow(
          dedup.groupBy(window(col("wstart"), "1 hour"), col("event_type"))
            .agg(count(lit(1)).as("n_users"))
            .select(col("window.start").as("window_start"),
              col("event_type"), col("n_users")),
          s"$out/run", Sink.Append)._1
    },
    // X6, stream-stream LEFT OUTER interval join EXECUTED BY THE
    // ENGINE — the join form where the WATERMARK ITSELF produces rows:
    // a left event with no PURCHASE by the same user within 10 minutes
    // after it (the right side is the purchases subset — a subset, or
    // every left would trivially match itself) is emitted with nulls
    // only once the watermark passes left.ts + interval (no partner can
    // still arrive), i.e. at state eviction — the last of those ride
    // the trailing no-data batch. Matched pairs emit eagerly (the path
    // events_correlated_stream certifies inner-identical). Lefts within
    // interval+lateness of stream end are never resolved on a bounded
    // run; the oracle encodes the eviction cutoff in the engine's own
    // arithmetic — the global watermark is the MIN of the two sides'
    // (the purchases side ends earlier), millisecond-floored, scaled to
    // microseconds, strict beyond left.ts + interval. Same u150
    // bench-cost prefix as the inner twin — the whole table at the
    // sf0.01 gate.
    Cert.scratch("events_correlated_outer_stream",
      // matched pairs = the batch left-join's matches; null emissions =
      // lefts with no partner whose eviction the final watermark reached:
      // the engine evicts a buffered left when the (ms-floored, µs-scaled)
      // watermark passes left.ts + interval — mirrored exactly
      """WITH l AS (SELECT * FROM events WHERE user_id < 150),
        |r AS (SELECT * FROM l WHERE event_type = 'purchase'),
        |wm AS (
        |  SELECT (epoch_ms(LEAST((SELECT max(ts) FROM l),
        |                         (SELECT max(ts) FROM r))) - 60000) * 1000
        |           AS wm_us),
        |pairs AS (
        |  SELECT l.event_type AS type_left, r.event_type AS type_right
        |  FROM l JOIN r
        |    ON l.user_id = r.user_id
        |   AND r.ts >= l.ts AND r.ts <= l.ts + INTERVAL 10 MINUTE),
        |unmatched AS (
        |  SELECT l.event_type AS type_left, '__unmatched' AS type_right
        |  FROM l, wm
        |  WHERE NOT EXISTS (
        |    SELECT 1 FROM r
        |    WHERE r.user_id = l.user_id
        |      AND r.ts >= l.ts AND r.ts <= l.ts + INTERVAL 10 MINUTE)
        |    AND epoch_us(l.ts) + 600000000 < wm.wm_us)
        |SELECT type_left, type_right, count(*) AS n_pairs
        |FROM (SELECT * FROM pairs UNION ALL SELECT * FROM unmatched)
        |GROUP BY 1, 2""".stripMargin, stream = true) { (s, dir, out) =>
      // 2 chunks (was 4): null-emission happens at state EVICTION, which
      // the final no-data batch sweeps under the FINAL watermark — the
      // answer depends on that watermark only, not on how many
      // intermediate triggers advanced it, so the extra triggers were
      // per-trigger overhead. Two triggers + the no-data batch still
      // exercise cross-batch buffering, mid-stream eviction, and the
      // trailing sweep.
      def src() = StreamRun.chunkedSource(s,
        Tables.events(s, dir).filter(col("user_id") < 150),
        s"$out/src-u150-${dir.replaceAll("[^A-Za-z0-9.]", "_")}", 2)
      val joined = EventWindows.correlateStreamsOuter(
        src(), src().filter(col("event_type") === "purchase"),
        "user_id", "10 MINUTES", "1 minute")
      StreamRun.runAvailableNow(joined, s"$out/run", Sink.Append,
          noDataBatch = true)._1
        .groupBy(col("type_left"),
          coalesce(col("type_right"), lit("__unmatched")).as("type_right"))
        .agg(count(lit(1)).as("n_pairs"))
    },
    // X6, UNBOUNDED deployment shape EXECUTED LIVE — every other
    // streaming query runs Trigger.AvailableNow over a pre-staged
    // backlog; this one runs the SAME tumbling aggregation with
    // Trigger.ProcessingTime while a concurrent writer thread lands the
    // chunk files into the source directory MID-RUN (one every ~450 ms,
    // slower than the 200 ms trigger cadence, so triggers provably fire
    // between arrivals). The engine must discover files that did not
    // exist at query start, advance the watermark on wall-clock-paced
    // triggers, and fire append-mode finalization from its own no-data
    // batches; the run is stopped externally once the progress trail
    // shows the backlog drained and finalization fired (there is no
    // "end" of an unbounded query). Certified under the AvailableNow
    // twin's oracle VERBATIM — the "only the trigger swaps" claim
    // (StreamRun.scala:20-23), demonstrated instead of asserted.
    Cert.scratch("events_windowed_live",
      // the AvailableNow append twin's oracle VERBATIM — that equality IS
      // the live-deployment certification
      TumblingFinalizedOracle, stream = true) { (s, dir, out) =>
      val (res, _) = StreamRun.runProcessingTimeLive(
        Tables.events(s, dir),
        src => EventWindows.tumblingStream(src, "1 hour", "1 hour"),
        s"$out/run")
      res.drop("batch_id")
    },
    // X6, CUSTOM STATE + EVENT-TIME TIMERS under the LIVE trigger: the
    // transformWithState session machine re-run with Trigger.ProcessingTime
    // against the concurrently-appended directory. Beyond
    // events_windowed_live's built-in aggregation, this certifies that
    // user-managed state and registered timeouts behave identically when
    // the watermark advances on ENGINE-SCHEDULED no-data batches at wall
    // clock (including mid-run ones between arrivals — a timer firing
    // early emits the same session, since emission content depends only
    // on the fold state) instead of AvailableNow's scripted trailer. The
    // require pins that timer-fired closes actually rode a no-data
    // batch. Oracle: the bounded twin's session oracle VERBATIM.
    Cert.scratch("events_session_live",
      // the bounded twin's session-close oracle VERBATIM (one definition
      // serves the AvailableNow run and the live trigger — that equality
      // is the certification)
      sessionCloseOracle(""), stream = true) { (s, dir, out) =>
      import s.implicits._
      requireRocksDb(s)
      val (res, stats) = StreamRun.runProcessingTimeLive(
        Tables.events(s, dir),
        src => SessionCloseTws.close(
          src.select(col("user_id"), col("ts"), col("value"))
            .withWatermark("ts", "1 hour")
            .as[SessionClose.Event], gapMinutes = 30).toDF(),
        s"$out/run", outputMode = "update")
      val dataIds = stats.filter(_.inputRows > 0).map(_.batchId).toSet
      require(res.filter(!col("batch_id").isInCollection(dataIds))
          .limit(1).count() == 1L,
        s"timer-fired session closes must ride a no-data batch: $stats")
      res.drop("batch_id")
    },
    // X6, STATE EXPORT — the state data source ("statestore" format,
    // Spark 4's operability tool) reads the tws session machine's
    // typed ValueState back OUT of a finished run's checkpoint as an
    // ordinary DataFrame: the open sessions the watermark never timed
    // out — exactly the rows every session-tier oracle EXCLUDES. The
    // exported tail is certified under the COMPLEMENT oracle (each
    // user's last session with timeout ≥ final watermark), closing the
    // algebra: emitted ∪ exported-state = all sessions. This is the
    // inspection/migration path a production stateful pipeline needs
    // (debug a stuck key, snapshot state for the bootstrap tier) —
    // demonstrated, not asserted.
    Cert.scratch("events_session_state_export",
      // the complement of the emitted set: still-open last sessions whose
      // timeout the final watermark never reached
      sessionOpenTailOracle(""), stream = true) { (s, dir, out) =>
      val src = eventsChunks(s, dir)
      import s.implicits._
      val ev = src.select(col("user_id"), col("ts"), col("value"))
        .withWatermark("ts", "1 hour")
        .as[SessionClose.Event]
      requireRocksDb(s)
      StreamRun.runAvailableNow(
        SessionCloseTws.close(ev, gapMinutes = 30).toDF(),
        s"$out/run", Sink.Update, noDataBatch = true)
      s.read.format("statestore")
        .option("stateVarName", "session")
        .load(s"$out/run/ckpt")
        .select(
          timestamp_micros(col("value.startUs")).as("session_start"),
          col("key.value").as("user_id"),
          col("value.nEvents").as("n_events"),
          (floor(col("value.sumValue") * 100 + lit(0.5)) / lit(100.0))
            .as("sum_value"))
    },
    // X6, STATE-SCHEMA EVOLUTION on restart: drain half the stream
    // under the v1 session processor (one "session" ValueState), stop,
    // resume the SAME checkpoint under v2 — which declares an ADDED
    // "nClosed" ValueState. The engine must evolve the checkpoint's
    // state schema (new variable empty for every key) while reading
    // the v1 "session" state back intact: the union of both runs'
    // emissions is certified under the unchanged session oracle, and
    // the added variable's bookkeeping is `require`d exact against the
    // run's own emissions — sum of exported nClosed = run-2 emission
    // count (the variable did not exist during run 1). This is how a
    // production stateful pipeline ships a new feature without
    // discarding years of state.
    Cert.scratch("events_session_evolve_tws",
      // the evolved restart must still produce the single-run answer
      sessionCloseOracle("WHERE user_id < 150"), stream = true) { (s, dir, out) =>
      val ev = Tables.events(s, dir).filter(col("user_id") < 150)
      val (early, late) = splitAtMidpoint(ev)
      import s.implicits._
      requireRocksDb(s)
      def toTyped(src: DataFrame) =
        src.select(col("user_id"), col("ts"), col("value"))
          .withWatermark("ts", "1 hour").as[SessionClose.Event]
      val (res, _, run2) = StreamRun.runRestart(
        early, late,
        src => SessionCloseTws.close(toTyped(src), gapMinutes = 30).toDF(),
        s"$out/run", Sink.Update,
        restartTransform = Some(
          src => SessionCloseTws.closeEvolved(toTyped(src), gapMinutes = 30).toDF()))
      val run2Emissions = res.filter(
        col("batch_id").isInCollection(run2.map(_.batchId))).count()
      val exportedClosed = s.read.format("statestore")
        .option("stateVarName", "nClosed").load(s"$out/run/ckpt")
        .agg(sum(col("value.value"))).head().getLong(0)
      require(exportedClosed == run2Emissions,
        s"the evolved variable must account exactly for the post-evolution " +
          s"closes: state says $exportedClosed, sink says $run2Emissions")
      res.drop("batch_id")
    },
    // X6, MapState/ListState EXPORT — the state data source over the
    // profile machine's OTHER state shapes: composite-keyed MapState
    // rows come back as (grouping key, user_map_key, user_map_value
    // [+ TTL expiration stamp]) and ListState as one row per element.
    // The final profile is REBUILT from nothing but the exported state
    // (n_events/n_types from the map, top3_sum/top_event_id from the
    // list) and certified under the SAME oracle as
    // events_user_profile_tws — the state store provably holds exactly
    // what the emissions claimed.
    Cert.scratch("events_profile_state_export",
      // the state-store rebuild must equal the emitted profiles exactly
      profileOracle, stream = true) { (s, dir, out) =>
      val src = eventsChunks(s, dir)
      import s.implicits._
      val ev = src.select(col("user_id"), col("event_type"), col("value"),
          col("event_id")).as[UserProfileTws.Event]
      requireRocksDb(s)
      StreamRun.runAvailableNow(
        UserProfileTws.profiles(ev).toDF(), s"$out/run", Sink.Update)
      def stateVar(name: String) = s.read.format("statestore")
        .option("stateVarName", name).load(s"$out/run/ckpt")
      val fromMap = stateVar("typeCounts")
        .groupBy(col("key.value").as("user_id"))
        .agg(sum(col("user_map_value.value.value")).as("n_events"),
          count(lit(1)).as("n_types"))
      val fromList = stateVar("topVals")
        .groupBy(col("key.value").as("user_id"))
        .agg(
          (floor(sum(col("list_element.value.value")) * 100 + lit(0.5))
            / lit(100.0)).as("top3_sum"),
          max_by(col("list_element.value.event_id"),
            struct(col("list_element.value.value"),
              col("list_element.value.event_id"))).as("top_event_id"))
      fromMap.join(fromList, "user_id")
        .select(col("user_id"), col("n_events"), col("n_types"),
          col("top3_sum"), col("top_event_id"))
    },
    // X6, STATE BOOTSTRAP from a batch snapshot
    // (StatefulProcessorWithInitialState — the transformWithState
    // surface beyond events_session_restart_tws's checkpoint recovery):
    // the stateful-pipeline MIGRATION path. History up to the midpoint
    // is sessionized in BATCH (closed sessions exported directly; each
    // user's open tail becomes typed initial state whose close timer is
    // armed in handleInitialState); the stream starts AT the midpoint
    // with that snapshot instead of replaying history. Batch exports ∪
    // stream emissions must equal the single-run session answer — which
    // holds only if the snapshot is exactly the state a continuous run
    // would have carried across the boundary (sessions straddling the
    // midpoint must merge with their continuations; snapshot-armed
    // timers for users silent after the midpoint must still fire).
    // Same oracle as the other three session tiers.
    Cert.scratch("events_session_bootstrap_tws",
      // batch exports + bootstrapped-stream emissions = the single-run
      // answer — the same oracle as the restart tier, u150-scoped
      sessionCloseOracle("WHERE user_id < 150"), stream = true) { (s, dir, out) =>
      import s.implicits._
      val ev = Tables.events(s, dir).filter(col("user_id") < 150)
      val (early, late) = splitAtMidpoint(ev)
      val gapUs = 30L * 60L * 1000000L
      // batch sessionization of the history half, in the same µs
      // arithmetic as the streaming fold
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("user_id").orderBy("us")
      val sess = early
        .withColumn("us", unix_micros(col("ts")))
        .withColumn("new_s",
          when(lag("us", 1).over(w).isNull ||
            col("us") - lag("us", 1).over(w) > gapUs, 1).otherwise(0))
        .withColumn("sid", sum("new_s").over(
          w.rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)))
        .groupBy(col("user_id"), col("sid"))
        .agg(min("us").as("startUs"), max("us").as("lastUs"),
          count(lit(1)).as("n"), sum("value").as("sumv"))
      val tagged = sess.join(
        sess.groupBy("user_id").agg(max("sid").as("last_sid")), "user_id")
      val closedBatch = tagged.filter(col("sid") < col("last_sid"))
        .select(timestamp_micros(col("startUs")).as("session_start"),
          col("user_id"), col("n").as("n_events"),
          (floor(col("sumv") * 100 + lit(0.5)) / lit(100.0)).as("sum_value"))
      val open = tagged.filter(col("sid") === col("last_sid"))
        .select(col("user_id"), col("startUs"), col("lastUs"),
          col("n"), col("sumv"))
        .as[(Long, Long, Long, Long, Double)]
        .map { case (u, st, la, n, sv) =>
          (u, SessionClose.Open(st, la, n, sv)) }
      requireRocksDb(s)
      val src = StreamRun.chunkedSource(s, late,
        s"$out/src-${dir.replaceAll("[^A-Za-z0-9.]", "_")}", 4)
      val evS = src.select(col("user_id"), col("ts"), col("value"))
        .withWatermark("ts", "1 hour").as[SessionClose.Event]
      val streamed = StreamRun.runAvailableNow(
        SessionCloseTws.closeWithBootstrap(evS, open, gapMinutes = 30).toDF(),
        s"$out/run", Sink.Update, noDataBatch = true)._1
        .drop("batch_id")
      closedBatch.unionByName(streamed)
    },
    // X6, transformWithState BREADTH (the tier beyond SessionCloseTws's
    // single ValueState): a per-user profile machine on MapState
    // (per-type counts — composite-keyed state, one store entry per
    // (user, type)) and ListState (bounded top-3 by (value, event_id) —
    // k-bounded state per user regardless of volume), both declared
    // with a non-NONE TTLConfig under TimeMode.ProcessingTime (the only
    // time mode the engine permits TTL in — state expiry as a DECLARED
    // contract rather than a hand-rolled timer machine; the 1 h TTL
    // provably cannot fire inside the seconds-long bounded run, so the
    // result stays deterministic, and UserProfileTwsSpec pins that a
    // sub-trigger TTL actually evicts). Update-mode emissions reduced
    // to the latest row per user, under a plain GROUP BY oracle.
    Cert.scratch("events_user_profile_tws",
      // top-3 tie-broken on (value DESC, event_id DESC) — a total order,
      // so the kept set and its sum are unique; same half-up rounding as
      // the session fold
      profileOracle, stream = true) { (s, dir, out) =>
      val src = eventsChunks(s, dir)
      import s.implicits._
      val ev = src.select(col("user_id"), col("event_type"), col("value"),
          col("event_id")).as[UserProfileTws.Event]
      requireRocksDb(s)
      StreamRun.runAvailableNow(
          UserProfileTws.profiles(ev).toDF(), s"$out/run", Sink.Update)._1
        .groupBy(col("user_id"))
        .agg(max_by(
          struct(col("n_events"), col("n_types"), col("top3_sum"),
            col("top_event_id")), col("batch_id")).as("p"))
        .select(col("user_id"), col("p.n_events").as("n_events"),
          col("p.n_types").as("n_types"), col("p.top3_sum").as("top3_sum"),
          col("p.top_event_id").as("top_event_id"))
    },
    // X6, stream-stream FULL OUTER interval join EXECUTED BY THE
    // ENGINE — completes the join-mode matrix (inner:
    // events_correlated_stream; left-outer:
    // events_correlated_outer_stream): BOTH eviction-driven null paths
    // in one query. Sides are type-disjoint (clicks vs purchases) so
    // neither side self-matches: a click with no purchase within 10
    // minutes AFTER it emits null-right at left-eviction (watermark
    // past click.ts + interval); a purchase with no click within 10
    // minutes BEFORE it emits null-left at right-eviction (watermark
    // past purchase.ts — the condition r.ts >= l.ts bounds matching
    // lefts at-or-before the purchase). The oracle mirrors both
    // eviction rules in the engine's ms-floored µs-scaled watermark
    // arithmetic; unresolved tails (inside their eviction horizons at
    // stream end) are never emitted on a bounded run.
    Cert.scratch("events_correlated_full_stream",
      // both eviction rules in the engine's arithmetic: left-eviction
      // strict beyond l.ts + interval (as the left-outer twin), right-
      // eviction strict beyond r.ts; tails inside their horizons at
      // stream end never resolve on a bounded run
      """WITH l AS (SELECT * FROM events WHERE user_id < 150 AND event_type = 'click'),
        |r AS (SELECT * FROM events WHERE user_id < 150 AND event_type = 'purchase'),
        |wm AS (
        |  SELECT (epoch_ms(LEAST((SELECT max(ts) FROM l),
        |                         (SELECT max(ts) FROM r))) - 60000) * 1000
        |           AS wm_us),
        |pairs AS (
        |  SELECT l.event_type AS type_left, r.event_type AS type_right
        |  FROM l JOIN r
        |    ON l.user_id = r.user_id
        |   AND r.ts >= l.ts AND r.ts <= l.ts + INTERVAL 10 MINUTE),
        |unmatched_l AS (
        |  SELECT l.event_type AS type_left, '__none' AS type_right
        |  FROM l, wm
        |  WHERE NOT EXISTS (
        |    SELECT 1 FROM r
        |    WHERE r.user_id = l.user_id
        |      AND r.ts >= l.ts AND r.ts <= l.ts + INTERVAL 10 MINUTE)
        |    AND epoch_us(l.ts) + 600000000 < wm.wm_us),
        |unmatched_r AS (
        |  SELECT '__none' AS type_left, r.event_type AS type_right
        |  FROM r, wm
        |  WHERE NOT EXISTS (
        |    SELECT 1 FROM l
        |    WHERE l.user_id = r.user_id
        |      AND r.ts >= l.ts AND r.ts <= l.ts + INTERVAL 10 MINUTE)
        |    AND epoch_us(r.ts) < wm.wm_us)
        |SELECT type_left, type_right, count(*) AS n_pairs
        |FROM (SELECT * FROM pairs
        |      UNION ALL SELECT * FROM unmatched_l
        |      UNION ALL SELECT * FROM unmatched_r)
        |GROUP BY 1, 2""".stripMargin, stream = true) { (s, dir, out) =>
      val ev = Tables.events(s, dir).filter(col("user_id") < 150)
      // 2 chunks (was 4): both outer null paths emit at EVICTION under
      // the final watermark (trailing no-data batch) — chunk-count-
      // invariant, so the extra triggers were per-trigger overhead
      def src(t: String) = StreamRun.chunkedSource(
        s, ev.filter(col("event_type") === t),
        s"$out/src-$t-${dir.replaceAll("[^A-Za-z0-9.]", "_")}", 2)
      val joined = EventWindows.correlateStreamsFull(
        src("click"), src("purchase"), "user_id", "10 MINUTES", "1 minute")
      StreamRun.runAvailableNow(joined, s"$out/run", Sink.Append,
          noDataBatch = true)._1
        .groupBy(coalesce(col("type_left"), lit("__none")).as("type_left"),
          coalesce(col("type_right"), lit("__none")).as("type_right"))
        .agg(count(lit(1)).as("n_pairs"))
    },
    // X6 observability, DEDUP tier: the state-EXPIRY
    // drop audit. Every 40th event_id from the stream's first quarter
    // is REPLAYED as an exact duplicate arriving after the whole
    // backlog — by then the watermark has advanced past those rows'
    // event times and their dedup state has been EVICTED (rowsRemoved,
    // `require`d > 0), so without the watermark guard each replay would
    // re-emit and double-count. The engine must instead drop every
    // replayed row at the watermark (`require`d exact: the dedup
    // operator filters raw rows, no pre-aggregation), leaving the
    // survivor set = the original events — certified as per-hour
    // per-type counts under the plain GROUP BY oracle. This is the
    // "state expiry cannot double-count" contract a 100 TB replaying
    // upstream relies on.
    Cert.scratch("events_dedup_expiry_audit",
      // survivors = the original events exactly (every replayed duplicate
      // dropped): plain per-hour per-type counts
      """SELECT date_trunc('hour', ts) AS hour_start, event_type,
        |       count(*) AS n_events
        |FROM events GROUP BY 1, 2""".stripMargin, stream = true) { (s, dir, out) =>
      val ev = Tables.events(s, dir)
      val b = ev.agg(min(unix_micros(col("ts"))), max(unix_micros(col("ts")))).head()
      val q1 = b.getLong(0) + (b.getLong(1) - b.getLong(0)) / 4
      val isReplayed = col("event_id") % 40 === 0 && unix_micros(col("ts")) < lit(q1)
      val src = StreamRun.chunkedSourceWithLate(
        s, ev, ev.filter(isReplayed), s"$out/src", 4)
      val dd = src.withWatermark("ts", "1 hour")
        .dropDuplicatesWithinWatermark("event_id")
      val (res, stats) = StreamRun.runAvailableNow(dd, s"$out/run", Sink.Append)
      val nReplay = ev.filter(isReplayed).count()
      require(nReplay > 0, "fixture must yield replayed rows for the audit")
      require(stats.map(_.rowsRemoved).sum > 0,
        s"the watermark must have evicted expired dedup state: $stats")
      val dropped = stats.map(_.rowsDroppedByWatermark).sum
      require(dropped == nReplay,
        s"every replayed duplicate ($nReplay) must be dropped at the " +
          s"watermark, got $dropped: $stats")
      res.groupBy(date_trunc("hour", col("ts")).as("hour_start"),
          col("event_type"))
        .agg(count(lit(1)).as("n_events"))
    },
    // X6 observability, STREAM-STREAM JOIN tier: the
    // join-side late-input drop audit. Same u150 interval join as
    // events_correlated_stream, but every 40th left event from the
    // first quarter is displaced to arrive after the backlog — the join
    // has long since EVICTED the right-side state those lefts would
    // have probed (watermark past l.ts + interval), so the engine must
    // drop each displaced left at the join's watermark filter
    // (`require`d exact) rather than emit pairs against already-freed
    // state. Certified output: the pair counts = the batch join MINUS
    // exactly the displaced lefts' pairs, recomputed by the oracle from
    // the same displacement rule.
    Cert.scratch("events_join_late_audit",
      // the batch interval join with the displaced lefts excluded by the
      // same displacement rule the query applied
      """WITH l0 AS (SELECT * FROM events WHERE user_id < 150),
        |b AS (SELECT epoch_us(min(ts)) AS mn, epoch_us(max(ts)) AS mx FROM l0),
        |l AS (
        |  SELECT l0.* FROM l0, b
        |  WHERE NOT (event_id % 40 = 0
        |             AND epoch_us(ts) < b.mn + (b.mx - b.mn) // 4)),
        |r AS (SELECT * FROM l0 WHERE event_type = 'purchase')
        |SELECT l.event_type AS type_left, r.event_type AS type_right,
        |       count(*) AS n_pairs
        |FROM l JOIN r
        |  ON l.user_id = r.user_id
        | AND r.ts >= l.ts AND r.ts <= l.ts + INTERVAL 10 MINUTE
        |GROUP BY 1, 2""".stripMargin, stream = true) { (s, dir, out) =>
      val ev = Tables.events(s, dir).filter(col("user_id") < 150)
      val b = ev.agg(min(unix_micros(col("ts"))), max(unix_micros(col("ts")))).head()
      val q1 = b.getLong(0) + (b.getLong(1) - b.getLong(0)) / 4
      val isLate = col("event_id") % 40 === 0 && unix_micros(col("ts")) < lit(q1)
      // 2 on-time chunks (was 4): the displaced lefts land in their own
      // file AFTER the backlog either way, and by then the watermark is
      // max(ts)−delay regardless of how many triggers advanced it — the
      // drop count and pair output are chunk-count-invariant
      val left = StreamRun.chunkedSourceWithLate(
        s, ev.filter(!isLate), ev.filter(isLate), s"$out/srcL", 2)
      val right = StreamRun.chunkedSource(
        s, ev.filter(col("event_type") === "purchase"),
        s"$out/srcR-${dir.replaceAll("[^A-Za-z0-9.]", "_")}", 2)
      val joined = EventWindows.correlateStreams(
        left, right, "user_id", "10 MINUTES", "1 minute")
      val (res, stats) = StreamRun.runAvailableNow(joined, s"$out/run", Sink.Append)
      val nLate = ev.filter(isLate).count()
      require(nLate > 0, "fixture must yield displaced lefts for the audit")
      val dropped = stats.map(_.rowsDroppedByWatermark).sum
      require(dropped == nLate,
        s"every displaced left ($nLate) must be dropped at the join's " +
          s"watermark, got $dropped: $stats")
      res.groupBy(col("type_left"), col("type_right"))
        .agg(count(lit(1)).as("n_pairs"))
    },
    // Robust anomaly detection — median/MAD outlier flagging per event
    // type, the metric-quality screen that survives the heavy tails
    // that break z-scores. Two aggregation passes over events with the
    // tiny per-type stats broadcast back between them (no events-side
    // re-shuffle beyond the groupBys). Values are quantized to integer
    // cents FIRST: every median/MAD is then an exact .0/.25-step
    // double in BOTH engines, so the 3×MAD threshold compare cannot
    // flip on a ulp (exact percentile here; at 100 TB swap in the
    // approx_percentile sketch — certified separately by
    // stats_quantiles_approx).
    Cert("events_anomaly_mad",
      """WITH v AS (
        |  SELECT event_type, CAST(floor(value * 100 + 0.5) AS BIGINT) AS vc
        |  FROM events),
        |m AS (SELECT event_type, quantile_cont(vc, 0.5) AS med
        |      FROM v GROUP BY 1),
        |d AS (SELECT v.event_type, abs(v.vc - m.med) AS dev
        |      FROM v JOIN m ON v.event_type = m.event_type),
        |md AS (SELECT event_type, quantile_cont(dev, 0.5) AS mad
        |       FROM d GROUP BY 1)
        |SELECT d.event_type, max(m.med) AS med, max(md.mad) AS mad,
        |       count(*) AS n,
        |       CAST(sum(CASE WHEN d.dev > 3 * md.mad THEN 1 ELSE 0 END)
        |            AS BIGINT) AS n_outliers
        |FROM d
        |JOIN m ON d.event_type = m.event_type
        |JOIN md ON d.event_type = md.event_type
        |GROUP BY 1""".stripMargin) { (s, dir) =>
      val v = Tables.events(s, dir).select(col("event_type"),
        expr("CAST(floor(value * 100 + 0.5) AS BIGINT)").as("vc"))
      val m = v.groupBy("event_type")
        .agg(expr("percentile(vc, 0.5)").as("med"))
      val d = v.join(broadcast(m), "event_type")
        .withColumn("dev", abs(col("vc") - col("med")))
      val md = d.groupBy("event_type")
        .agg(expr("percentile(dev, 0.5)").as("mad"))
      d.join(broadcast(md), "event_type")
        .groupBy("event_type")
        .agg(max("med").as("med"), max("mad").as("mad"),
          count(lit(1)).as("n"),
          sum(when(col("dev") > lit(3) * col("mad"), 1L).otherwise(0L))
            .as("n_outliers"))
    },
    // Robust anomaly detection, SKETCH FORM — the 100 TB memory shape
    // of events_anomaly_mad: exact per-group percentile buffers every
    // value per group in executor memory (with a handful of event types
    // that is an OOM at scale, not a slowdown); approx_percentile is a
    // fixed-size mergeable sketch. Both medians (value and deviation)
    // ride the sketch; the exact screen is computed alongside for the
    // verdicts. Quantized to integer cents first (same discipline as
    // the exact twin). Tolerance: sketch medians within 5% (or one
    // dollar) of exact — accuracy 10000 → rank error ~n/10⁴, far inside
    // — and the outlier count within 2% of n (or 5 rows): dev > 3·MAD
    // decisions can flip only for rows within the sketch error band of
    // the threshold.
    Cert("events_anomaly_mad_approx",
      """WITH v AS (
        |  SELECT event_type, CAST(floor(value * 100 + 0.5) AS BIGINT) AS vc
        |  FROM events),
        |m AS (SELECT event_type, quantile_cont(vc, 0.5) AS med
        |      FROM v GROUP BY 1),
        |d AS (SELECT v.event_type, abs(v.vc - m.med) AS dev
        |      FROM v JOIN m ON v.event_type = m.event_type),
        |md AS (SELECT event_type, quantile_cont(dev, 0.5) AS mad
        |       FROM d GROUP BY 1)
        |SELECT d.event_type, max(m.med) AS med, max(md.mad) AS mad,
        |       count(*) AS n,
        |       CAST(sum(CASE WHEN d.dev > 3 * md.mad THEN 1 ELSE 0 END)
        |            AS BIGINT) AS n_outliers,
        |       true AS med_within, true AS mad_within,
        |       true AS outliers_within
        |FROM d
        |JOIN m ON d.event_type = m.event_type
        |JOIN md ON d.event_type = md.event_type
        |GROUP BY 1""".stripMargin) { (s, dir) =>
      val v = Tables.events(s, dir).select(col("event_type"),
        expr("CAST(floor(value * 100 + 0.5) AS BIGINT)").as("vc"))
      val m = v.groupBy("event_type").agg(
        expr("percentile(vc, 0.5)").as("med"),
        expr("approx_percentile(vc, 0.5, 10000)").cast("double").as("med_a"))
      val d = v.join(broadcast(m), "event_type")
        .withColumn("dev", abs(col("vc") - col("med")))
        .withColumn("dev_a", abs(col("vc") - col("med_a")))
      val md = d.groupBy("event_type").agg(
        expr("percentile(dev, 0.5)").as("mad"),
        expr("approx_percentile(dev_a, 0.5, 10000)").cast("double").as("mad_a"))
      d.join(broadcast(md), "event_type")
        .groupBy("event_type")
        .agg(max("med").as("med"), max("mad").as("mad"),
          count(lit(1)).as("n"),
          sum(when(col("dev") > lit(3) * col("mad"), 1L).otherwise(0L))
            .as("n_outliers"),
          (abs(max("med_a") - max("med")) <=
            greatest(lit(0.05) * abs(max("med")), lit(100.0)))
            .as("med_within"),
          (abs(max("mad_a") - max("mad")) <=
            greatest(lit(0.05) * abs(max("mad")), lit(100.0)))
            .as("mad_within"),
          (abs(
            sum(when(col("dev_a") > lit(3) * col("mad_a"), 1L).otherwise(0L)) -
            sum(when(col("dev") > lit(3) * col("mad"), 1L).otherwise(0L)))
            .cast("double") <=
            greatest(lit(0.02) * count(lit(1)), lit(5.0)))
            .as("outliers_within"))
    },
    // X6 batch twin of the stream-stream interval join: event-type
    // co-occurrence within 10 minutes per user (the watermark is a
    // no-op in batch; the same code runs streaming in
    // StreamingReconcileSpec).
    Cert("events_correlated",
      """SELECT l.event_type AS type_left, r.event_type AS type_right,
        |       count(*) AS n_pairs
        |FROM events l JOIN events r
        |  ON l.user_id = r.user_id
        | AND r.ts >= l.ts AND r.ts <= l.ts + INTERVAL 10 MINUTE
        |GROUP BY 1, 2""".stripMargin) { (s, dir) =>
      val ev = Tables.events(s, dir)
      graft.stream.EventWindows
        .correlateStreams(ev, ev, "user_id", "10 MINUTES", "1 minute")
        .groupBy(col("type_left"), col("type_right"))
        .agg(count(lit(1)).as("n_pairs"))
    },
    // Sequential funnel: users reaching view → click-after-view →
    // purchase-after-click (first-touch attribution).
    Cert("events_funnel",
      """WITH s1 AS (SELECT user_id, min(ts) AS t FROM events
        |            WHERE event_type = 'view' GROUP BY 1),
        |s2 AS (SELECT e.user_id, min(e.ts) AS t FROM events e
        |       JOIN s1 ON e.user_id = s1.user_id AND e.ts > s1.t
        |       WHERE e.event_type = 'click' GROUP BY 1),
        |s3 AS (SELECT e.user_id, min(e.ts) AS t FROM events e
        |       JOIN s2 ON e.user_id = s2.user_id AND e.ts > s2.t
        |       WHERE e.event_type = 'purchase' GROUP BY 1)
        |SELECT 'view' AS stage, count(*) AS n_users FROM s1
        |UNION ALL SELECT 'click', count(*) FROM s2
        |UNION ALL SELECT 'purchase', count(*) FROM s3""".stripMargin) { (s, dir) =>
      Funnel.conversion(Tables.events(s, dir), "user_id", "ts", "event_type",
        Seq("view", "click", "purchase"))
    },
    // Time-series gap-fill: hourly event counts per type INCLUDING empty
    // hours. The hour grid is derived per type from its own min/max via
    // sequence + explode — a grouped aggregation plus a generator, no
    // cross join (a grid × dimension crossJoin is the naive shape; this
    // one never materializes hours outside a type's active range and
    // stays inside the no-cartesian plan guard).
    Cert("events_gapfill",
      """WITH e AS (
        |  SELECT event_type, date_trunc('hour', ts) AS hour FROM events),
        |hourly AS (
        |  SELECT event_type, hour, count(*) AS n FROM e GROUP BY 1, 2),
        |grid AS (
        |  SELECT event_type,
        |         unnest(generate_series(min(hour), max(hour),
        |                                INTERVAL 1 HOUR)) AS hour
        |  FROM e GROUP BY event_type)
        |SELECT g.event_type, g.hour,
        |       CAST(coalesce(n, 0) AS BIGINT) AS n_events
        |FROM grid g LEFT JOIN hourly USING (event_type, hour)""".stripMargin) { (s, dir) =>
      val ev = Tables.events(s, dir)
        .select(col("event_type"), date_trunc("hour", col("ts")).as("hour"))
      val hourly = ev.groupBy(col("event_type"), col("hour"))
        .agg(count(lit(1)).as("n"))
      val grid = ev.groupBy(col("event_type"))
        .agg(min(col("hour")).as("h0"), max(col("hour")).as("h1"))
        .select(col("event_type"),
          explode(sequence(col("h0"), col("h1"), expr("INTERVAL 1 HOUR"))).as("hour"))
      grid.join(hourly, Seq("event_type", "hour"), "left_outer")
        .select(col("event_type"), col("hour"),
          coalesce(col("n"), lit(0L)).as("n_events"))
    },
    // Cohort retention: users by first-activity day, actives per offset
    // day — the classic engagement analysis every event warehouse runs.
    Cert("events_retention",
      """WITH d AS (SELECT DISTINCT user_id, date_trunc('day', ts) AS day FROM events),
        |c AS (SELECT user_id, min(day) AS cohort_day FROM d GROUP BY 1)
        |SELECT c.cohort_day,
        |       date_diff('day', c.cohort_day, d.day) AS day_n,
        |       count(*) AS n_users
        |FROM d JOIN c USING (user_id) GROUP BY 1, 2""".stripMargin) { (s, dir) =>
      Funnel.retention(Tables.events(s, dir), "user_id", "ts")
    },
    // Rolling 7-day active users (the WAU metric): each distinct
    // (user, day) explodes map-side to the 7 report days it contributes
    // to — no day-grid range join — then one distinct count per report
    // day.
    Cert("events_rolling_active",
      // same explode-to-report-days formulation; report days past the
      // last event (whose trailing windows still contain activity) are
      // included on both sides
      """WITH d AS (
        |  SELECT DISTINCT user_id, date_trunc('day', ts) AS day FROM events),
        |x AS (
        |  SELECT user_id, unnest(generate_series(day, day + INTERVAL 6 DAY,
        |                                         INTERVAL 1 DAY)) AS report_day
        |  FROM d)
        |SELECT report_day, count(DISTINCT user_id) AS n_active
        |FROM x GROUP BY 1""".stripMargin) { (s, dir) =>
      Funnel.rollingActives(Tables.events(s, dir), "user_id", "ts", windowDays = 7)
    },
    // X6, EXECUTED BY THE STREAMING ENGINE: the same
    // tumbling aggregation as events_windowed, but run as a bounded
    // readStream — the events fixture split into 4 time-range chunk
    // files, streamed one file per trigger (4 real micro-batches with
    // state carried across triggers), Trigger.AvailableNow, complete
    // output mode, foreachBatch parquet sink, result read back from
    // disk. Complete mode makes the bounded run's final emission equal
    // the batch aggregation, so the oracle is events_windowed's oracle
    // VERBATIM — a green row here certifies the micro-batch engine
    // (file-stream source, state store, watermark advancement, trigger
    // loop), not the batch twin.
    Cert.scratch("events_windowed_stream",
      // identical to events_windowed — that is the point: the streaming
      // execution must reproduce the batch aggregation exactly
      TumblingOracle, stream = true) { (s, dir, out) =>
      val src = eventsChunks(s, dir)
      StreamRun.runAvailableNow(
        EventWindows.tumblingStream(src, "1 hour", "1 hour"),
        s"$out/run", Sink.Complete)._1
    },
    // X6, append mode — the variant that certifies WATERMARK EVICTION
    // under the oracle: each trigger emits only the windows the advancing
    // watermark finalized (their state is then dropped), and windows
    // within `lateness` of the stream's end are never finalized on a
    // bounded run. The oracle encodes that cutoff explicitly: windows
    // whose end exceeds max(ts) − 1h are absent. The result being the
    // UNION of per-trigger emissions (4 micro-batches, parquet-appended)
    // with no window emitted twice is itself part of what a green row
    // certifies — a window emitted at two triggers (eviction broken)
    // would duplicate rows and fail the compare.
    Cert.scratch("events_windowed_stream_append",
      // append mode: only windows the final watermark (max ts − 1h
      // lateness) finalized are emitted; Spark finalizes a window when
      // watermark ≥ window end (inclusive boundary, pinned by
      // StreamRunSpec)
      TumblingFinalizedOracle, stream = true) { (s, dir, out) =>
      val src = eventsChunks(s, dir)
      StreamRun.runAvailableNow(
        EventWindows.tumblingStream(src, "1 hour", "1 hour"),
        s"$out/run", Sink.Append)._1
    },
    // X6, session windows EXECUTED BY THE STREAMING ENGINE: unlike
    // tumbling windows, session state MERGES across micro-batches (a
    // user's session spanning a chunk boundary must fuse in the state
    // store — the richest stateful path the engine has). Same bounded
    // AvailableNow run, complete mode, same oracle as events_sessions:
    // a green row means the merge produced exactly the batch sessions.
    Cert.scratch("events_sessions_stream",
      // identical to events_sessions — the streaming session merge must
      // reproduce the batch sessionization exactly
      SessionsOracle, stream = true) { (s, dir, out) =>
      val src = eventsChunks(s, dir)
      StreamRun.runAvailableNow(
        EventWindows.sessionsStream(src, "30 minutes", "1 hour"),
        s"$out/run", Sink.Complete)._1
    },
    // X6, stream-STREAM interval join EXECUTED BY THE STREAMING ENGINE —
    // the hardest stateful path X6 has (two buffered sides, state
    // retention derived from the time-range condition, eviction by both
    // watermarks). Inner joins emit each match eagerly on arrival, so a
    // bounded event-time-ordered run emits EXACTLY the batch join's
    // pairs (evicted right-side state is never needed again — left
    // arrivals are monotone in ts); the append-mode sink is rolled up
    // in batch and certified under events_correlated's oracle verbatim.
    Cert.scratch("events_correlated_stream",
      // identical to events_correlated — the streaming join must emit
      // exactly the batch join's matches, once each
      """SELECT l.event_type AS type_left, r.event_type AS type_right,
        |       count(*) AS n_pairs
        |FROM events l JOIN events r
        |  ON l.user_id = r.user_id
        | AND r.ts >= l.ts AND r.ts <= l.ts + INTERVAL 10 MINUTE
        |WHERE l.user_id < 150
        |GROUP BY 1, 2""".stripMargin, stream = true) { (s, dir, out) =>
      // user_id < 150 is the deterministic bench-cost prefix (the same
      // pattern as the doc_id < 1000 certification queries): at the
      // sf0.01 correctness gate it IS the whole table (max uid 149), so
      // the oracle certifies the full join; at the sf0.1 bench it bounds
      // the two-sided join state to ~10% of users — the certification
      // (buffered sides, interval condition, dual-watermark eviction)
      // is per-key machinery, not corpus-size-dependent.
      // dir suffix -u150: the chunk layout is keyed by (source, chunk
      // count) — a changed source filter must land in a fresh dir or the
      // reuse marker would serve the old layout
      // 2 chunks, not 4: inner-join emissions are eager and the final
      // answer is chunk-count-invariant (certified identical at 4), so
      // extra triggers were pure per-trigger overhead — RocksDB commit +
      // checkpoint fsync per micro-batch, ~1 s each of bench wall at sf0.1.
      // Two triggers still certify the multi-batch machinery: state
      // buffered across a trigger boundary, watermark advanced between
      // batches, eviction exercised in batch 2.
      def src() = StreamRun.chunkedSource(s,
        Tables.events(s, dir).filter(col("user_id") < 150),
        s"$out/src-u150-${dir.replaceAll("[^A-Za-z0-9.]", "_")}", 2)
      val joined = EventWindows.correlateStreams(
        src(), src(), "user_id", "10 MINUTES", "1 minute")
      // inner joins emit eagerly in the data batch — the trailing
      // no-data batch would only evict state, so it is skipped
      StreamRun.runAvailableNow(joined, s"$out/run", Sink.Append,
          noDataBatch = false)._1
        .groupBy(col("type_left"), col("type_right"))
        .agg(count(lit(1)).as("n_pairs"))
    },
    // X1 × X6, streaming-ingest dedup EXECUTED BY THE STREAMING ENGINE:
    // dropDuplicatesWithinWatermark over 4 real micro-batches. Its
    // contract is dedup WITHIN the watermark window only — a key whose
    // state the advancing watermark evicted is legitimately re-emitted
    // on its next occurrence (the fixture spans ~30 days vs a 1 h
    // watermark, so re-emission WILL happen) — so the
    // engine-independent invariants a bounded run certifies are (a) the
    // emitted key SET is exactly the distinct keys (a key lost to a
    // late-drop, or junk emitted, both fail) and (b) emissions per key
    // are bounded by the trigger count (state is fixed during a batch —
    // at most one emission per key per micro-batch; >4 means dedup
    // state was ignored). Within-window suppression itself is pinned in
    // EventWindowsSpec on a union-doubled stream.
    Cert.scratch("events_dedup_stream",
      // the emitted key set = the distinct keys; the emission-count bound
      // is a verdict column (the count itself depends on chunk boundaries)
      "SELECT DISTINCT user_id, event_type, true AS emits_bounded FROM events", stream = true) { (s, dir, out) =>
      val src = eventsChunks(s, dir)
      // watermark dedup emits first-seen rows in their data batch — the
      // trailing no-data batch only evicts state, so it is skipped
      StreamRun.runAvailableNow(
          EventWindows.dedupStream(src, Seq("user_id", "event_type"), "1 hour"),
          s"$out/run", Sink.Append, noDataBatch = false)._1
        .groupBy(col("user_id"), col("event_type"))
        .agg(count(lit(1)).as("n_emits"))
        .select(col("user_id"), col("event_type"),
          (col("n_emits") >= 1 && col("n_emits") <= 4).as("emits_bounded"))
    },
    // X6, UPDATE-mode stateful aggregation — StreamingReconcile's core
    // path executed by the engine: running per-group counts where each
    // trigger ships only the CHANGED groups (delta, not the full group
    // space — the property that makes a per-batch reconcile join cheap
    // at 100 TB). The batch-id-stamped update log is reduced to the
    // latest row per group; convergence of that final state to the true
    // batch counts is exactly the reconcile's "zero mismatches once the
    // backlog drains" claim, certified under the plain GROUP BY oracle.
    // The update log's shape (1..4 updates per group) rides the same
    // verdict-column convention as emits_bounded above.
    Cert.scratch("events_reconcile_stream",
      // the converged running counts = the batch counts
      """SELECT event_type, count(*) AS cnt, true AS updates_bounded
        |FROM events GROUP BY 1""".stripMargin, stream = true) { (s, dir, out) =>
      val src = eventsChunks(s, dir)
      StreamRun.runAvailableNow(
          StreamingReconcile.runningCounts(src, "event_type"), s"$out/run",
          Sink.Update)._1
        .groupBy(col("event_type"))
        .agg(max_by(col("cnt"), col("batch_id")).as("cnt"),
          count(lit(1)).as("n_updates"))
        .select(col("event_type"), col("cnt"),
          (col("n_updates") >= 1 && col("n_updates") <= 4).as("updates_bounded"))
    },
    // X6, CUSTOM state EXECUTED BY THE STREAMING ENGINE — the
    // GroupState tier (SessionTracker) beyond built-in windows: a per-user
    // running summary accumulated in user code across 4 micro-batches.
    // The state-store risk this certifies is cross-batch ACCUMULATION
    // (a user spanning chunks must fold into prior state, not reset —
    // the built-in-window queries never exercise user-managed state).
    // Update-mode emissions are batch-id-stamped; the latest emission
    // per user must equal the whole-input summary, certified under a
    // plain per-user GROUP BY oracle.
    Cert.scratch("events_custom_state_stream",
      // the final custom-state emission per user = the whole-input
      // summary (total rounded at emission, mirrored half-up here)
      """SELECT user_id, count(*) AS n_events,
        |       floor(sum(value) * 100 + 0.5) / 100 AS total_value,
        |       max(ts) AS last_ts
        |FROM events GROUP BY 1""".stripMargin, stream = true) { (s, dir, out) =>
      import s.implicits._
      val src = eventsChunks(s, dir)
      val tracked = SessionTracker.track(s,
        src.select(col("user_id"), col("ts"), col("value"))
          .as[SessionTracker.Event]).toDF()
      StreamRun.runAvailableNow(tracked, s"$out/run", Sink.Update)._1
        .groupBy(col("user_id"))
        .agg(max_by(
          struct(col("n_events"), col("total_value"), col("last_ts")),
          col("batch_id")).as("fin"))
        .select(col("user_id"), col("fin.n_events").as("n_events"),
          col("fin.total_value").as("total_value"),
          col("fin.last_ts").as("last_ts"))
    },
    // X6, SLIDING windows EXECUTED BY THE STREAMING ENGINE — the last
    // built-in window form the streaming matrix lacked. Each event
    // lands in width/slide = 2 live windows, so the state store holds
    // 2× the tumbling row count and every event updates two state rows
    // per trigger; complete mode makes the final emission the batch
    // aggregation, certified under events_sliding's oracle VERBATIM.
    Cert.scratch("events_sliding_stream",
      // identical to events_sliding — the streaming sliding aggregation
      // must reproduce the batch one exactly
      SlidingOracle, stream = true) { (s, dir, out) =>
      val src = eventsChunks(s, dir)
      StreamRun.runAvailableNow(
        EventWindows.slidingStream(src, "1 hour", "30 minutes", "1 hour"),
        s"$out/run", Sink.Complete)._1
    },
    // X6, stop/restart RECOVERY executed by the streaming engine: drain
    // the first half of the events (split at the midpoint timestamp) to
    // completion, stop, land the second half as new files, restart
    // against the SAME checkpoint. runRestart `require`s the
    // engine-level invariants (batch numbering resumes, only the late
    // files are read); the oracle certifies the result: the final
    // complete-mode emission must equal the batch aggregation over the
    // WHOLE table — which it can only do if the state store was
    // restored, since the hour window straddling the stop/restart
    // boundary needs counts from both runs. Oracle VERBATIM from
    // events_windowed. Layout is rebuilt per run by design (the source
    // dir mutates mid-scenario), so this query keeps its own dir.
    Cert.scratch("events_restart_stream",
      // identical to events_windowed — recovery is only certified if the
      // restarted run reproduces the full-table batch aggregation, state
      // restored across the stop/restart boundary included
      TumblingOracle, stream = true) { (s, dir, out) =>
      val ev = Tables.events(s, dir)
      val (early, late) = splitAtMidpoint(ev)
      val (result, _, _) = StreamRun.runRestart(
        early, late,
        src => EventWindows.tumblingStream(src, "1 hour", "1 hour"),
        s"$out/run", Sink.Complete)
      result
    },
    // X6, stream-STATIC broadcast enrichment EXECUTED BY THE STREAMING
    // ENGINE — the dimension-lookup shape of a production ingest and
    // the one X6 join form the matrix lacked (stream-stream buffers
    // both sides; this buffers NEITHER: an inner stream-static join is
    // stateless, the broadcast dimension rides every micro-batch's
    // re-planned join and each event is enriched exactly once in the
    // batch it arrives). The per-trigger emissions land in batch-id
    // partitions; their union must equal the batch join — rolled up by
    // segment under a plain join-GROUP BY oracle. Sums ride integer
    // cents (floor(v*100+0.5)): segment-level double sums are 400×
    // coarser groups than the hourly windows, wide enough for
    // cross-engine addition-order drift at 2 decimals.
    Cert.scratch("events_enrich_stream",
      // the streaming enrichment must emit each event's enrichment
      // exactly once — a dropped or doubled micro-batch shifts the
      // per-segment counts/cents and fails the compare. The inner CAST
      // keeps the SUM itself over BIGINTs (mirroring the Spark side's
      // integer-cent sum); the outer CAST only narrows DuckDB's HUGEINT
      // sum dtype — summing doubles instead would reintroduce the 2^53
      // drift the cents encoding exists to avoid
      """SELECT c.c_mktsegment, e.event_type, count(*) AS n_events,
        |       CAST(sum(CAST(floor(e.value * 100 + 0.5) AS BIGINT)) AS BIGINT)
        |         AS sum_cents
        |FROM events e JOIN customer c ON e.user_id = c.c_custkey
        |GROUP BY 1, 2""".stripMargin, stream = true) { (s, dir, out) =>
      val src = eventsChunks(s, dir)
      val dim = Tables.customer(s, dir).select(col("c_custkey"), col("c_mktsegment"))
      StreamRun.runAvailableNow(
          EventWindows.enrichStream(src, dim, "user_id", "c_custkey"),
          s"$out/run", Sink.Append)._1
        .groupBy(col("c_mktsegment"), col("event_type"))
        .agg(count(lit(1)).as("n_events"),
          sum(floor(col("value") * 100 + lit(0.5)).cast("long")).as("sum_cents"))
    },
    // X6: tumbling window aggregation (epoch-aligned, oracle: time_bucket).
    Cert("events_windowed",
      TumblingOracle) { (s, dir) =>
      EventWindows.tumbling(Tables.events(s, dir), "1 hour")
    },
    // X6: session windows per user, 30-minute inactivity gap.
    Cert("events_sessions",
      SessionsOracle) { (s, dir) =>
      EventWindows.sessions(Tables.events(s, dir), "30 minutes")
    },
    // X6: sliding windows (1h window, 30m slide → every event in 2 windows).
    Cert("events_sliding",
      SlidingOracle) { (s, dir) =>
      EventWindows.sliding(Tables.events(s, dir), "1 hour", "30 minutes")
    },
    // X1 × X6: streaming ingest dedup's batch twin.
    // dropDuplicatesWithinWatermark keeps an ARBITRARY row per key in
    // batch (and the first-arrived row in streaming), so the query
    // projects exactly the dedup key — the surviving KEY SET is the
    // deterministic, engine-independent part of the semantics: one row
    // per distinct key iff the dedup dropped every repeat and nothing
    // else. The streaming form of the same function is exercised in
    // EventWindowsSpec ("streaming dedup drops repeated keys").
    Cert("events_dedup",
      // the dedup survivors' key set = the distinct keys (exactly one row
      // each; a dropped key or a surviving duplicate both fail the compare)
      "SELECT DISTINCT user_id, event_type FROM events") { (s, dir) =>
      EventWindows.dedupStream(Tables.events(s, dir),
          Seq("user_id", "event_type"), "1 hour")
        .select(col("user_id"), col("event_type"))
    }
  )
}
