package graft
package certs

import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.FormattedMode
import org.apache.spark.sql.functions._

import graft.core.Tables
import graft.plans.AsOfJoinNative

import CertSupport._

/** As-of and range-join certifications: the native as-of exec, the SQL rewrites (correlated scalar, LATERAL
  * top-1, tolerance, forward, nearest) and point-in-interval joins.
  */
object AsOfCerts {

  /** The NOT EXISTS twin — events OUTSIDE every maintenance window,
    * the "exclude the maintenance traffic" query every ops pipeline
    * writes. Spark decorrelates the NOT EXISTS into a left-ANTI join
    * carrying the same non-equi sandwich; the rule's semi/anti tier
    * rewrites it (point on the left, existence semantics absorb the
    * interval explosion).
    */
  private[graft] def rangeAntiJoinSql(eventsTable: String): String =
    s"""WITH w AS (
       |  SELECT DISTINCT date_trunc('day', ts) + INTERVAL 1 HOUR AS w_start,
       |         date_trunc('day', ts) + INTERVAL 7 HOUR AS w_end
       |  FROM $eventsTable)
       |SELECT event_type, count(*) AS n_outside,
       |       round(sum(value), 2) AS sum_value
       |FROM $eventsTable e
       |WHERE NOT EXISTS (SELECT 1 FROM w
       |                  WHERE e.ts >= w.w_start AND e.ts < w.w_end)
       |GROUP BY 1""".stripMargin

  /** ONE as-of SQL text for `asof_join_sql_auto`: runs in Spark (with
    * the rewrite) and verbatim in DuckDB (which decorrelates it its own
    * way) — engine-independent by construction.
    */
  private[graft] def asofSqlText(events: String, orders: String): String =
    s"""SELECT e.event_id, e.user_id,
       |       (SELECT max(o.o_orderdate) FROM $orders o
       |        WHERE o.o_custkey = e.user_id AND o.o_orderdate <= e.ts)
       |         AS matched_order_date
       |FROM $events e""".stripMargin

  /** Tolerance as-of SQL: latest click within 1 hour before each error,
    * as the natural correlated scalar subquery. ONE text, run in Spark
    * (rewrite collapses it to the native operator with
    * toleranceMicros=3600s) and verbatim in DuckDB.
    */
  private def asofTolSqlText(events: String): String =
    s"""SELECT e.event_id, e.user_id,
       |       (SELECT max(c.ts) FROM $events c
       |        WHERE c.event_type = 'click' AND c.user_id = e.user_id
       |          AND c.ts <= e.ts AND c.ts >= e.ts - INTERVAL 1 HOUR)
       |         AS last_click_ts
       |FROM $events e
       |WHERE e.event_type = 'error'""".stripMargin

  /** STRICT tolerance spelling: `>` instead of `>=` on the bound. The
    * rewrite maps it to toleranceMicros = 1h − 1µs (timestamps are
    * microsecond-resolution, so the two are identical relations);
    * DuckDB evaluates the strict predicate directly — any boundary-tie
    * divergence would hash-mismatch.
    */
  private def asofStrictTolSqlText(events: String): String =
    s"""SELECT e.event_id, e.user_id,
       |       (SELECT max(c.ts) FROM $events c
       |        WHERE c.event_type = 'click' AND c.user_id = e.user_id
       |          AND c.ts <= e.ts AND c.ts > e.ts - INTERVAL 1 HOUR)
       |         AS last_click_ts
       |FROM $events e
       |WHERE e.event_type = 'error'""".stripMargin

  /** Forward as-of SQL: earliest following purchase per click. */
  private def asofFwdSqlText(events: String): String =
    s"""SELECT c.event_id, c.user_id,
       |       (SELECT min(p.ts) FROM $events p
       |        WHERE p.event_type = 'purchase' AND p.user_id = c.user_id
       |          AND p.ts >= c.ts) AS next_purchase_ts
       |FROM $events c
       |WHERE c.event_type = 'click'""".stripMargin

  /** Run an as-of SQL text and pin the expected plan shape. */
  private def runAsofSql(s: SparkSession, dir: String,
      sql: String, forward: Boolean, tolMicros: Option[Long]): DataFrame = {
    Tables.events(s, dir).createOrReplaceTempView("asql14_events")
    val df = s.sql(sql)
    // pin the rewrite INCLUDING direction and tolerance: a fire that
    // dropped the tolerance would still look like an AsOfJoin in the
    // formatted plan but return wrong (non-null) rows at 100 TB
    val nodes = df.queryExecution.optimizedPlan.collect {
      case p: plans.AsOfJoinPlan
          if p.forward == forward && p.toleranceMicros == tolMicros => p
    }
    require(nodes.nonEmpty,
      s"as-of rewrite did not fire with forward=$forward tol=$tolMicros:\n" +
        df.queryExecution.optimizedPlan)
    val plan = df.queryExecution.explainString(FormattedMode)
    require(!plan.contains("BroadcastNestedLoopJoin") &&
            !plan.contains("CartesianProduct"),
      "rewrite enabled but the domain join still nested-loops")
    df
  }

  /** The payload-bearing as-of SQL: a
    * LATERAL top-1 that returns the matched row's COLUMNS, not just its
    * time. ONE text, run in Spark (the extended AsOfRewriteRule
    * collapses it onto the native operator) and verbatim in DuckDB.
    * The clicks CTE reduces to one row per (user, ts) so the top-1 is
    * tie-free — ORDER-BY-LIMIT ties are nondeterministic in ANY
    * engine, so a hash-compared certification must exclude them.
    */
  private def asofLateralSqlText(events: String): String =
    s"""WITH clicks AS (
       |  SELECT user_id AS q_user, ts AS q_ts, max(event_id) AS q_id
       |  FROM $events
       |  WHERE event_type = 'click'
       |  GROUP BY 1, 2)
       |SELECT e.event_id, e.user_id, q.q_ts AS click_ts, q.q_id AS click_id
       |FROM $events e, LATERAL (
       |  SELECT q_ts, q_id FROM clicks q
       |  WHERE q.q_user = e.user_id AND q.q_ts <= e.ts
       |  ORDER BY q.q_ts DESC LIMIT 1) q
       |WHERE e.event_type = 'error'""".stripMargin

  /** LEFT-outer spelling of the same payload as-of: no-match events
    * survive with NULL click columns — the operator's output as-is (no
    * inner filter). Both engines parse this text verbatim.
    */
  private def asofLateralLeftSqlText(events: String): String =
    s"""WITH clicks AS (
       |  SELECT user_id AS q_user, ts AS q_ts, max(event_id) AS q_id
       |  FROM $events
       |  WHERE event_type = 'click'
       |  GROUP BY 1, 2)
       |SELECT e.event_id, e.user_id, q.q_ts AS click_ts, q.q_id AS click_id
       |FROM $events e LEFT OUTER JOIN LATERAL (
       |  SELECT q_ts, q_id FROM clicks q
       |  WHERE q.q_user = e.user_id AND q.q_ts <= e.ts
       |  ORDER BY q.q_ts DESC LIMIT 1) q ON true
       |WHERE e.event_type = 'purchase'""".stripMargin

  /** Shared runner for the lateral as-of certifications. */
  private def runLateralAsof(
      s: SparkSession, dir: String, sql: String,
      tolMicros: Option[Long] = None,
      nearest: Boolean = false): DataFrame = {
    Tables.events(s, dir).createOrReplaceTempView("asql15_events")
    val df = s.sql(sql)
    val opt = df.queryExecution.optimizedPlan
    val nodes = opt.collect {
      case p: plans.AsOfJoinPlan
          if !p.forward && p.toleranceMicros == tolMicros &&
            p.nearest == nearest => p
    }
    require(nodes.nonEmpty,
      s"lateral as-of rewrite did not fire with tol=$tolMicros " +
        s"nearest=$nearest:\n$opt")
    val leftoverRanking = opt.collect {
      case w: org.apache.spark.sql.catalyst.plans.logical.Window => w
      case w: org.apache.spark.sql.catalyst.plans.logical.WindowGroupLimit => w
    }
    require(leftoverRanking.isEmpty,
      s"ranking sandwich survived the rewrite:\n$opt")
    val plan = df.queryExecution.explainString(FormattedMode)
    require(!plan.contains("BroadcastNestedLoopJoin") &&
      !plan.contains("CartesianProduct"),
      "rewrite enabled but the domain join still nested-loops")
    df
  }

  /** Tolerance-bounded lateral: the stale-quote payload spelling. */
  private def asofLateralTolSqlText(events: String): String =
    s"""WITH clicks AS (
       |  SELECT user_id AS q_user, ts AS q_ts, max(event_id) AS q_id
       |  FROM $events
       |  WHERE event_type = 'click'
       |  GROUP BY 1, 2)
       |SELECT e.event_id, e.user_id, q.q_ts AS click_ts, q.q_id AS click_id
       |FROM $events e, LATERAL (
       |  SELECT q_ts, q_id FROM clicks q
       |  WHERE q.q_user = e.user_id AND q.q_ts <= e.ts
       |    AND q.q_ts >= e.ts - INTERVAL 1 HOUR
       |  ORDER BY q.q_ts DESC LIMIT 1) q
       |WHERE e.event_type = 'error'""".stripMargin

  /** Shared DuckDB oracle for both nearest-as-of certifications. */
  private val NearestOracleSql =
    """WITH clicks AS (
      |  SELECT user_id AS q_user, ts AS q_ts, max(event_id) AS q_id
      |  FROM events
      |  WHERE event_type = 'click'
      |  GROUP BY 1, 2)
      |SELECT e.event_id, e.user_id,
      |       (SELECT q_ts FROM clicks q
      |        WHERE q.q_user = e.user_id
      |        ORDER BY abs(epoch_us(q.q_ts) - epoch_us(e.ts)), q.q_ts
      |        LIMIT 1) AS near_ts,
      |       (SELECT q_id FROM clicks q
      |        WHERE q.q_user = e.user_id
      |        ORDER BY abs(epoch_us(q.q_ts) - epoch_us(e.ts)), q.q_ts
      |        LIMIT 1) AS near_id
      |FROM events e
      |WHERE e.event_type = 'error'""".stripMargin

  private val LastOrderOracle =
    """SELECT e.event_id, e.user_id, o.o_orderdate AS matched_order_date
      |FROM events e
      |ASOF LEFT JOIN orders o
      |  ON e.user_id = o.o_custkey AND e.ts >= o.o_orderdate""".stripMargin

  private val NextPurchaseOracle =
    """SELECT c.event_id, c.user_id,
      |       CAST(floor(epoch(p.ts)) AS BIGINT) AS next_purchase_epoch
      |FROM (SELECT * FROM events WHERE event_type = 'click') c
      |ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'purchase') p
      |  ON c.user_id = p.user_id AND c.ts <= p.ts""".stripMargin

  private val LastClickWithinHourOracle =
    """SELECT e.event_id, e.user_id,
      |       CASE WHEN e.ts - c.ts <= INTERVAL 1 HOUR
      |            THEN CAST(floor(epoch(c.ts)) AS BIGINT) END AS last_click_epoch
      |FROM (SELECT * FROM events WHERE event_type = 'error') e
      |ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') c
      |  ON e.user_id = c.user_id AND e.ts >= c.ts""".stripMargin

  /** `df`, after requiring the native as-of exec in its plan: the
    * certs below certify the operator, never a fallback. */
  private def nativeAsOf(df: DataFrame): DataFrame = {
    val plan = df.queryExecution.explainString(FormattedMode)
    require(plan.contains("AsOfJoin"),
      s"native as-of operator missing from plan:\n$plan")
    df
  }

  // One run per as-of twin pair below: `asof_join_events` and
  // `asof_join_native` (and the forward and tolerance pairs) answer
  // the same oracle through the same function, so they cannot drift.

  /** Each event's latest order of the same user at or before it. The
    * payload is the matched TIME, deterministic under ties. */
  private def lastOrder(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir).select("event_id", "user_id", "ts")
    val o = Tables.orders(s, dir)
      .select(col("o_custkey"), col("o_orderdate"),
        col("o_orderdate").as("matched_order_date"))
    nativeAsOf(AsOfJoinNative.join(ev, o, "user_id", "o_custkey",
        "ts", "o_orderdate", Seq("matched_order_date"))
      .select("event_id", "user_id", "matched_order_date"))
  }

  /** Each click's earliest following purchase of the same user. */
  private def nextPurchase(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
    val clicks = ev.filter(col("event_type") === "click")
      .select("event_id", "user_id", "ts")
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user"), col("ts").as("p_ts"),
        col("ts").as("next_purchase"))
    nativeAsOf(AsOfJoinNative.join(clicks, purchases, "user_id", "p_user",
        "ts", "p_ts", Seq("next_purchase"), forward = true)
      .select(col("event_id"), col("user_id"),
        unix_seconds(col("next_purchase")).as("next_purchase_epoch")))
  }

  /** Each error's latest click of the same user, only if at most an
    * hour old (the stale-quote guard, pushed into the merge). Matched
    * time surfaces as epoch seconds: nullable BIGINT, not nullable
    * TIMESTAMP, which comparison harnesses handle reliably. */
  private def lastClickWithinHour(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
    val errors = ev.filter(col("event_type") === "error")
      .select("event_id", "user_id", "ts")
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("user_id").as("c_user"), col("ts").as("c_ts"),
        col("ts").as("last_click"))
    nativeAsOf(AsOfJoinNative.join(errors, clicks, "user_id", "c_user",
        "ts", "c_ts", Seq("last_click"), toleranceSeconds = Some(3600L))
      .select(col("event_id"), col("user_id"),
        unix_seconds(col("last_click")).as("last_click_epoch")))
  }

  val all: Seq[Cert] = Seq(
    // As-of join: each event matched to the latest order of the same
    // key at-or-before its timestamp (DuckDB's native ASOF JOIN is the
    // oracle).
    Cert("asof_join_events", LastOrderOracle)(lastOrder),
    // As-of with a lookback bound: the latest click at most an hour old.
    Cert("asof_join_tolerance", LastClickWithinHourOracle)(lastClickWithinHour),
    // NOT EXISTS window exclusion through the same extension — the
    // anti-join tier of RangeBinJoinRule certified on the query
    // surface with one SQL text run verbatim by both engines.
    Cert("range_antijoin_auto", rangeAntiJoinSql("events")) { (s, dir) =>
      Tables.events(s, dir).createOrReplaceTempView("rja_events")
      val df = s.sql(rangeAntiJoinSql("rja_events"))
      val plan = df.queryExecution.explainString(FormattedMode)
      require(!plan.contains("BroadcastNestedLoopJoin") &&
              !plan.contains("CartesianProduct"),
        s"anti-join sandwich still planned as a nested loop:\n$plan")
      require(plan.contains("_graft_pbucket"),
        s"bucket key missing — the anti rewrite did not fire:\n$plan")
      df
    },
    // The optimizer-extension certification: the natural non-equi SQL,
    // run as written. The construction `require`s prove the rewrite
    // fired: no nested-loop / cartesian join anywhere in the physical
    // plan, and the injected bucket key present. At 100 TB this is the
    // difference between an O(points × windows) broadcast nested loop
    // and a shuffled hash join on the bucket key.
    Cert("range_join_auto", rangeJoinSql("events")) { (s, dir) =>
      Tables.events(s, dir).createOrReplaceTempView("rja_events")
      val df = s.sql(rangeJoinSql("rja_events"))
      val plan = df.queryExecution.explainString(FormattedMode)
      require(!plan.contains("BroadcastNestedLoopJoin") &&
              !plan.contains("CartesianProduct"),
        "RangeBinJoinRule enabled but the non-equi join still planned " +
          s"as a nested loop:\n$plan")
      require(plan.contains("_graft_pbucket"),
        s"bucket key missing — the rewrite did not fire:\n$plan")
      df
    },
    // The native twins of asof_join_events, asof_join_forward and
    // asof_join_tolerance (plans.AsOfJoinNative: logical node +
    // strategy + physical single-pass merge operator over two
    // co-partitioned sorted exchanges).
    Cert("asof_join_native", LastOrderOracle)(lastOrder),
    Cert("asof_join_native_forward", NextPurchaseOracle)(nextPurchase),
    Cert("asof_join_native_tolerance", LastClickWithinHourOracle)(lastClickWithinHour),
    // The SQL front door to the native operator: a correlated scalar
    // max-subquery — the natural as-of SQL in engines without an ASOF
    // keyword — decorrelates into a domain join whose inner theta join
    // is |distinct left times| × |orders| (the nested-loop scale trap).
    // plans.AsOfRewriteRule (installed post-decorrelation) collapses
    // the sandwich into the native AsOfJoinPlan. Certified the same way
    // as range_join_auto: ONE SQL text, run in Spark as written (plan
    // require'd to contain the AsOfJoin exec and no nested loop) and
    // verbatim in DuckDB as the oracle.
    Cert("asof_join_sql_auto", asofSqlText("events", "orders")) { (s, dir) =>
      Tables.events(s, dir).createOrReplaceTempView("asql_events")
      Tables.orders(s, dir).createOrReplaceTempView("asql_orders")
      val df = s.sql(asofSqlText("asql_events", "asql_orders"))
      val plan = df.queryExecution.explainString(FormattedMode)
      require(plan.contains("AsOfJoin"),
        s"as-of rewrite did not fire:\n$plan")
      require(!plan.contains("BroadcastNestedLoopJoin") &&
              !plan.contains("CartesianProduct"),
        "rewrite enabled but the domain join still nested-loops")
      df
    },
    // The stale-quote SQL shape: a user
    // bounding the backward as-of with `AND c.ts >= e.ts - INTERVAL 1
    // HOUR` — the matcher maps the tolerance conjunct onto the
    // operator's toleranceMicros.
    Cert("asof_join_sql_tolerance_auto", asofTolSqlText("events")) { (s, dir) =>
      runAsofSql(s, dir,
        asofTolSqlText("asql14_events"),
        forward = false, tolMicros = Some(3600000000L))
    },
    // The same stale-quote SQL with a STRICT bound — the other
    // spelling a user reaches for — certified through the 1µs
    // tolerance tightening.
    Cert("asof_join_sql_strict_auto", asofStrictTolSqlText("events")) { (s, dir) =>
      runAsofSql(s, dir,
        asofStrictTolSqlText("asql14_events"),
        forward = false, tolMicros = Some(3600000000L - 1L))
    },
    // The forward (min/>=) SQL spelling through the same front door —
    // the rule has always matched it but the certified SQL surface
    // only exercised backward/max.
    Cert("asof_join_sql_forward_auto", asofFwdSqlText("events")) { (s, dir) =>
      runAsofSql(s, dir,
        asofFwdSqlText("asql14_events"),
        forward = true, tolMicros = None)
    },
    // Hot-key mitigation for the native as-of operator: AQE's OptimizeSkewedJoin only splits SMJ/SHJ nodes,
    // so a hot key would stall the custom exec in one task with no
    // runtime remedy. joinSkewSalted time-splits the key space and
    // replicates ONE boundary row per (key, split) — O(1) state makes
    // that sufficient — spreading a hot key's merge across numSplits
    // tasks. Same inputs and same DuckDB ASOF JOIN oracle as
    // asof_join_native: the mitigation must change the PLAN, never the
    // answer. The require pins both the native exec and the composite
    // (key, split) clustering.
    Cert("asof_join_native_skew",
      // identical text to asof_join_native's oracle: the salted plan must
      // reproduce the unsalted answer bit for bit
      LastOrderOracle) { (s, dir) =>
      val ev = Tables.events(s, dir).select("event_id", "user_id", "ts")
      val o = Tables.orders(s, dir)
        .select(col("o_custkey"), col("o_orderdate"),
          col("o_orderdate").as("matched_order_date"))
      val df = plans.AsOfJoinNative.joinSkewSalted(ev, o,
          "user_id", "o_custkey", "ts", "o_orderdate",
          Seq("matched_order_date"))
        .select("event_id", "user_id", "matched_order_date")
      val nodes = df.queryExecution.optimizedPlan.collect {
        case p: plans.AsOfJoinPlan if p.leftKeys.length == 2 => p
      }
      require(nodes.nonEmpty,
        "salted as-of lost the native operator or the split key")
      df
    },
    // Streaming as-of enrichment: the
    // canonical stream-enrichment shape the events tier lacked — each
    // streaming event joined to the LATEST PRIOR dimension row. The
    // native as-of operator is a batch physical operator, so the
    // streaming form runs it per trigger inside foreachBatch, where
    // each micro-batch is an ordinary DataFrame under the session's
    // full planner: every event is enriched exactly once in the batch
    // it arrives, the right side is static, and the union of the
    // batch-id-partitioned emissions equals the batch as-of — which is
    // why the oracle is the SAME DuckDB ASOF JOIN as asof_join_native.
    // STATE: the streaming query holds none (no watermark, no state
    // store — the as-of state lives inside each batch's merge, O(1)
    // per task); exactly-once comes from the replay-stable batch-id
    // partition overwrite, and the requires pin a real multi-trigger
    // run with the native exec planned in every batch.
    Cert.scratch("asof_stream_enrich",
      // and the same oracle once more for the STREAMING form: the union
      // of per-trigger as-of emissions must equal the batch as-of
      LastOrderOracle, stream = true) { (s, dir, out) =>
      import graft.stream.StreamRun
      val src = eventsChunks(s, dir)
      val dim = Tables.orders(s, dir)
        .select(col("o_custkey"), col("o_orderdate"),
          col("o_orderdate").as("matched_order_date"))
      val batchesWithAsOf = new java.util.concurrent.atomic.AtomicInteger
      val (result, stats) = StreamRun.runAvailableNow(
        src, s"$out/run", StreamRun.Sink.PerBatch { (batch, _) =>
          val enriched = plans.AsOfJoinNative.join(
              batch.select("event_id", "user_id", "ts"), dim,
              "user_id", "o_custkey", "ts", "o_orderdate",
              Seq("matched_order_date"))
            .select("event_id", "user_id", "matched_order_date")
          if (enriched.queryExecution.optimizedPlan.collect {
              case p: plans.AsOfJoinPlan => p }.nonEmpty)
            batchesWithAsOf.incrementAndGet()
          enriched
        })
      val dataBatches = stats.count(_.inputRows > 0)
      require(dataBatches >= 4,
        s"expected a real multi-trigger run, got $dataBatches data batches")
      require(batchesWithAsOf.get() >= dataBatches,
        "a micro-batch was enriched without the native as-of operator")
      result.select("event_id", "user_id", "matched_order_date")
    },
    // The LEFT-outer lateral as-of: the spelling that KEEPS no-match
    // rows with nulls — the operator's own output, no inner filter.
    // Same collapse, same requires; the purchase-side left means real
    // null rows exist at every SF (purchases with no prior click).
    Cert("asof_lateral_left_auto", asofLateralLeftSqlText("events")) { (s, dir) =>
      runLateralAsof(s, dir,
        asofLateralLeftSqlText("asql15_events"))
    },
    // The stale-quote LATERAL: the tolerance-bounded payload as-of a
    // real user writes — latest click within 1 hour before each error,
    // RETURNING THE CLICK'S COLUMNS. The rewrite maps the extra bound
    // onto the operator's toleranceMicros (require'd EXACTLY — a fire
    // that dropped the tolerance would look right in a name-only plan
    // check and return wrong rows); DuckDB evaluates the bound
    // directly, so any divergence hash-mismatches.
    Cert("asof_lateral_tolerance_auto", asofLateralTolSqlText("events")) { (s, dir) =>
      runLateralAsof(s, dir,
        asofLateralTolSqlText("asql15_events"), tolMicros = Some(3600000000L))
    },
    // The LATERAL as-of front door: without the rewrite, Spark
    // decorrelates the top-1 into the domain sandwich PLUS a
    // WindowGroupLimit re-sort of the full right side per (key, time)
    // group — the same |distinct ts| × |R| nested-loop shape the
    // scalar rewrite killed, now with payload columns. The extended
    // matcher collapses it onto the native operator with the payloads
    // riding through; the requires pin the fire (backward, no
    // tolerance), the ABSENCE of the ranking machinery (Window /
    // WindowGroupLimit both gone), and the nested-loop-free plan.
    Cert("asof_lateral_auto",
      // the SAME text the engine ran (modulo the view name): DuckDB
      // executes the lateral top-1 directly
      asofLateralSqlText("events")) { (s, dir) =>
      runLateralAsof(s, dir,
        asofLateralSqlText("asql15_events"))
    },
    // Streaming as-of against an EVOLVING dimension: asof_stream_enrich joined a static right side; the
    // production stale-quote shape appends dimension rows between
    // triggers. SNAPSHOT RULE, certified here: trigger b sees exactly
    // the dimension generations appended before it — gen <= b, gen =
    // o_orderkey % 4 — so an early event can NEVER be enriched by a
    // dimension row that had not landed yet (time-travel), and a
    // later trigger picks up the newer generations without reprocessing
    // old events. The union of the batch-partitioned emissions is
    // therefore NOT one batch as-of (the static query's oracle): it is
    // the per-batch as-of under each batch's own snapshot, which the
    // oracle replays row-for-row because the source uses the
    // rank-chunked layout — batch = ntile(4) OVER (ORDER BY ts,
    // event_id), a total order DuckDB reproduces exactly (the plain
    // chunked layout's sampled range boundaries could not be). The
    // requires pin a real 4-trigger run, the native as-of exec in
    // EVERY batch, and the batch-id domain the snapshot rule keyed on.
    Cert.scratch("asof_stream_enrich_evolving",
      // replays the engine's snapshot rule row-for-row: batch = the same
      // ntile(4) total order the rank-chunked source wrote, generation =
      // o_orderkey % 4, and the as-of match may only use generations <=
      // the event's batch — a dimension row "from the future" anywhere
      // in the corpus hash-mismatches
      """WITH ev AS (
        |  SELECT event_id, user_id, ts,
        |         ntile(4) OVER (ORDER BY ts, event_id) - 1 AS batch
        |  FROM events)
        |SELECT e.event_id, e.user_id,
        |       (SELECT max(o.o_orderdate) FROM orders o
        |        WHERE o.o_custkey = e.user_id AND o.o_orderdate <= e.ts
        |          AND o.o_orderkey % 4 <= e.batch) AS matched_order_date
        |FROM ev e""".stripMargin, stream = true) { (s, dir, out) =>
      import graft.stream.StreamRun
      val nChunks = 4
      val src = StreamRun.rankChunkedSource(s,
        Tables.events(s, dir).select("event_id", "user_id", "ts"),
        s"$out/src-${dir.replaceAll("[^A-Za-z0-9.]", "_")}", nChunks)
      val dim = Tables.orders(s, dir).select(
        col("o_custkey"), col("o_orderdate"),
        col("o_orderdate").as("matched_order_date"),
        pmod(col("o_orderkey"), lit(nChunks.toLong)).as("gen"))
      val batchesWithAsOf = new java.util.concurrent.atomic.AtomicInteger
      val seenBatches = java.util.concurrent.ConcurrentHashMap.newKeySet[Long]()
      val (result, stats) = StreamRun.runAvailableNow(
        src, s"$out/run", StreamRun.Sink.PerBatch { (batch, id) =>
          seenBatches.add(id)
          // the snapshot: generations landed before this trigger
          val snap = dim.filter(col("gen") <= lit(id)).drop("gen")
          val enriched = plans.AsOfJoinNative.join(
              batch.select("event_id", "user_id", "ts"), snap,
              "user_id", "o_custkey", "ts", "o_orderdate",
              Seq("matched_order_date"))
            .select("event_id", "user_id", "matched_order_date")
          if (enriched.queryExecution.optimizedPlan.collect {
              case p: plans.AsOfJoinPlan => p }.nonEmpty)
            batchesWithAsOf.incrementAndGet()
          enriched
        })
      val dataBatches = stats.count(_.inputRows > 0)
      require(dataBatches == nChunks,
        s"expected exactly $nChunks data triggers, got $dataBatches")
      require(batchesWithAsOf.get() >= dataBatches,
        "a micro-batch was enriched without the native as-of operator")
      val ids = seenBatches.iterator().asScala.toSet
      require((0L until nChunks.toLong).toSet.subsetOf(ids),
        s"snapshot rule keyed on unexpected batch ids: $ids")
      result.select("event_id", "user_id", "matched_order_date")
    },
    // NEAREST-mode as-of (the third direction after backward/forward):
    // match the click minimizing |Δt| around each error event,
    // equidistant tie → the PRIOR row. Same O(1)-state single-pass
    // merge — the backward advance leaves the earliest FOLLOWING row
    // as the unconsumed head, so nearest costs exactly one extra
    // comparison per left row. Oracle: DuckDB's correlated min-abs
    // top-1 (ORDER BY abs LIMIT 1 with the same prior tie-break).
    Cert("asof_join_nearest",
      // correlated min-|Δt| top-1 with the identical prior tie-break;
      // epoch arithmetic because DuckDB's interval abs and Spark's
      // timestamp subtraction spell differently, same ordering
      NearestOracleSql) { (s, dir) =>
      val ev = Tables.events(s, dir)
      val errors = ev.filter(col("event_type") === "error")
        .select("event_id", "user_id", "ts")
      val clicks = ev.filter(col("event_type") === "click")
        .groupBy(col("user_id").as("c_user"), col("ts").as("c_ts"))
        .agg(max("event_id").as("c_id"))
        .select(col("c_user"), col("c_ts"), col("c_ts").as("near_ts"), col("c_id"))
      val df = plans.AsOfJoinNative.join(errors, clicks, "user_id", "c_user",
          "ts", "c_ts", Seq("near_ts", "c_id"), nearest = true)
        .select(col("event_id"), col("user_id"), col("near_ts"),
          col("c_id").as("near_id"))
      require(df.queryExecution.optimizedPlan.collect {
        case p: plans.AsOfJoinPlan if p.nearest => p }.nonEmpty,
        "nearest as-of operator missing from plan")
      df
    },
    // The SQL spelling of nearest: LATERAL `ORDER BY abs(q_ts - e.ts),
    // q_ts LIMIT 1` (the rt ASC tie-break IS the operator's
    // tie → prior rule; the IS NOT NULL conjuncts are the grammar's
    // null-evidence requirement — without a theta to reject null
    // times, a null would win the NULLS FIRST sort in the subquery but
    // never match the operator). Spark's analyzer rejects the
    // correlated expression directly in ORDER BY, so the portable
    // spelling projects the distance as a select-list alias.
    // Decorrelation builds an UNCONDITIONED domain × clicks cross join
    // around it — AsOfRewriteRule collapses the whole sandwich onto
    // AsOfJoinPlan(nearest), require'd by the shared runner.
    Cert("asof_lateral_nearest_auto", NearestOracleSql) { (s, dir) =>
      runLateralAsof(s, dir,
        """SELECT e.event_id, e.user_id, q.q_ts AS near_ts, q.q_id AS near_id
          |FROM asql15_events e LEFT OUTER JOIN LATERAL (
          |  SELECT q_ts, q_id, abs(q.q_ts - e.ts) AS d FROM (
          |    SELECT user_id AS q_user, ts AS q_ts, max(event_id) AS q_id
          |    FROM asql15_events
          |    WHERE event_type = 'click'
          |    GROUP BY 1, 2) q
          |  WHERE q.q_user = e.user_id AND q.q_ts IS NOT NULL
          |  ORDER BY d, q_ts LIMIT 1) q ON true
          |WHERE e.event_type = 'error' AND e.ts IS NOT NULL""".stripMargin,
        nearest = true)
    },
    // Non-equi range join via bucketing: events falling inside derived
    // daily 02:00–06:00 maintenance windows, written as the plain
    // DataFrame join (no equi key — RangeBinJoinRule's bucket expansion
    // is what keeps this a hash join, require'd below).
    Cert("range_join_windows",
      """WITH w AS (
        |  SELECT DISTINCT date_trunc('day', ts) + INTERVAL 2 HOUR AS w_start,
        |         date_trunc('day', ts) + INTERVAL 6 HOUR AS w_end
        |  FROM events)
        |SELECT w_start, count(*) AS n_events, round(sum(value), 2) AS sum_value
        |FROM events e JOIN w ON e.ts >= w.w_start AND e.ts < w.w_end
        |GROUP BY 1""".stripMargin) { (s, dir) =>
      val ev = Tables.events(s, dir)
      val windows = ev.select(date_trunc("day", col("ts")).as("day")).distinct()
        .select(
          (col("day") + expr("INTERVAL 2 HOURS")).as("w_start"),
          (col("day") + expr("INTERVAL 6 HOURS")).as("w_end"))
      val joined = ev.join(windows,
        col("ts") >= col("w_start") && col("ts") < col("w_end"))
      val plan = joined.queryExecution.explainString(FormattedMode)
      require(plan.contains("_graft_pbucket"),
        s"bucket key missing — the rewrite did not fire:\n$plan")
      joined.groupBy(col("w_start"))
        .agg(count(lit(1)).as("n_events"), round(sum("value"), 2).as("sum_value"))
    },
    // Forward as-of join (attribution direction): each click picks up
    // the same user's EARLIEST following purchase — the mirror of
    // asof_join_events' latest-prior lookup.
    Cert("asof_join_forward", NextPurchaseOracle)(nextPurchase)
  )
}
