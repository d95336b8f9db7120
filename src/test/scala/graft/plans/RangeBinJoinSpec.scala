package graft.plans

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.{FormattedMode, QueryExecution}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener

import graft.core.Tables

/** The automatic range-join rewrite (plans.RangeBinJoinRule via
  * GraftExtensions): a plain SQL non-equi interval join must come out
  * of the optimizer as an EQUI join on the injected bucket key — and
  * produce exactly the rows of the nested-loop original, planned with
  * the rule excluded.
  */
class RangeBinJoinSpec extends graft.SparkFunSuite {
  import spark.implicits._

  /** `body` with the rule left out: the nested-loop reference. */
  private def ruleOff[A](body: => A): A =
    GraftExtensions.withoutRule(spark, classOf[RangeBinJoinRule])(body)

  private def events = Tables.events(spark, sf001)
    .select(col("event_id"), col("user_id"), col("ts"), col("value"))

  private def windows = events
    .select(date_trunc("day", col("ts")).as("day")).distinct()
    .select(
      (col("day") + expr("INTERVAL 2 HOURS")).as("w_start"),
      (col("day") + expr("INTERVAL 6 HOURS")).as("w_end"))

  /** The natural non-equi join a SQL user writes. */
  private def naturalJoin: DataFrame =
    events.join(windows,
      col("ts") >= col("w_start") && col("ts") < col("w_end"))

  private def planOf(df: DataFrame): String =
    df.queryExecution.explainString(FormattedMode)

  test("disabled by default: the natural join stays a nested loop") {
    // the reference side every comparison below uses: with the rule
    // excluded, the natural join has no equi key to plan on
    val plan = ruleOff(planOf(naturalJoin))
    assert(plan.contains("BroadcastNestedLoopJoin") ||
           plan.contains("CartesianProduct"),
      s"without the rule a non-equi join has no equi key:\n$plan")
    assert(!plan.contains("_graft_pbucket"))
  }

  test("enabled: rewritten to an equi join on the bucket, same rows") {
    val expected = ruleOff(naturalJoin.select(col("event_id"), col("w_start"))
      .as[(Long, java.sql.Timestamp)].collect().sorted.toSeq)
    val df = naturalJoin
    val plan = planOf(df)
    assert(!plan.contains("BroadcastNestedLoopJoin") &&
           !plan.contains("CartesianProduct"),
      s"rule enabled but the nested loop survived:\n$plan")
    val got = df.select(col("event_id"), col("w_start"))
      .as[(Long, java.sql.Timestamp)].collect().sorted.toSeq
    assert(got == expected)
  }

  test("half-open boundary: an event exactly at w_end never matches") {
    // synthetic intervals land an event exactly on an interval end AND
    // on a bucket boundary — the two off-by-one traps at once
    val pts = Seq(
      ("2024-01-01 02:00:00", 1L),
      ("2024-01-01 03:59:59", 2L),
      ("2024-01-01 04:00:00", 3L)
    ).toDF("s", "id").select(to_timestamp(col("s")).as("ts"), col("id"))
    val iv = Seq(("2024-01-01 02:00:00", "2024-01-01 04:00:00"))
      .toDF("a", "b")
      .select(to_timestamp(col("a")).as("lo"), to_timestamp(col("b")).as("hi"))
    val df = pts.join(iv, col("ts") >= col("lo") && col("ts") < col("hi"))
    assert(planOf(df).contains("_graft_pbucket"), planOf(df))
    val got = df.select("id").as[Long].collect().sorted.toSeq
    assert(got == Seq(1L, 2L), "ts == hi must not match a half-open interval")
  }

  test("inclusive upper (BETWEEN): the endpoint's own bucket is claimed") {
    // ts == hi sits exactly on a bucket boundary: a half-open-only
    // explosion stops one bucket short and silently loses the match
    val pts = Seq(
      ("2024-01-01 04:00:00", 1L), // == hi, on the bucket edge
      ("2024-01-01 04:00:01", 2L)  // past hi
    ).toDF("s", "id").select(to_timestamp(col("s")).as("ts"), col("id"))
    val iv = Seq(("2024-01-01 02:00:00", "2024-01-01 04:00:00"))
      .toDF("a", "b")
      .select(to_timestamp(col("a")).as("lo"), to_timestamp(col("b")).as("hi"))
    val df = pts.join(iv, col("ts").between(col("lo"), col("hi")))
    assert(!planOf(df).contains("BroadcastNestedLoopJoin"),
      "BETWEEN sandwich must be rewritten too")
    assert(planOf(df).contains("_graft_pbucket"), planOf(df))
    assert(df.select("id").as[Long].collect().toSeq == Seq(1L))
  }

  test("single-instant interval (lo == hi, inclusive) survives and matches") {
    val pts = Seq(("2024-01-01 03:00:00", 1L))
      .toDF("s", "id").select(to_timestamp(col("s")).as("ts"), col("id"))
    // the hour-long interval matches nothing; it gives the side a
    // positive longest interval, so the width is derived and the
    // instant goes through the rewrite
    val iv = Seq(
      ("2024-01-01 03:00:00", "2024-01-01 03:00:00"),
      ("2024-01-01 05:00:00", "2024-01-01 06:00:00")
    ).toDF("a", "b")
      .select(to_timestamp(col("a")).as("lo"), to_timestamp(col("b")).as("hi"))
    val df = pts.join(iv, col("ts") >= col("lo") && col("ts") <= col("hi"))
    assert(planOf(df).contains("_graft_pbucket"), planOf(df))
    assert(df.count() == 1L)
  }

  test("strict lower bound: the boundary point is excluded, rewrite still fires") {
    val pts = Seq(
      ("2024-01-01 02:00:00", 1L), // == lo, excluded by >
      ("2024-01-01 02:30:00", 2L)
    ).toDF("s", "id").select(to_timestamp(col("s")).as("ts"), col("id"))
    val iv = Seq(("2024-01-01 02:00:00", "2024-01-01 04:00:00"))
      .toDF("a", "b")
      .select(to_timestamp(col("a")).as("lo"), to_timestamp(col("b")).as("hi"))
    val df = pts.join(iv, col("ts") > col("lo") && col("ts") < col("hi"))
    assert(!planOf(df).contains("BroadcastNestedLoopJoin"))
    assert(planOf(df).contains("_graft_pbucket"), planOf(df))
    assert(df.select("id").as[Long].collect().toSeq == Seq(2L))
  }

  test("empty and inverted intervals are dropped, not exploded backwards") {
    val pts = Seq(("2024-01-01 03:00:00", 1L))
      .toDF("s", "id").select(to_timestamp(col("s")).as("ts"), col("id"))
    val iv = Seq(
      ("2024-01-01 02:00:00", "2024-01-01 02:00:00"), // empty
      ("2024-01-01 06:00:00", "2024-01-01 01:00:00"), // inverted
      ("2024-01-01 02:30:00", "2024-01-01 03:30:00")  // real match
    ).toDF("a", "b")
      .select(to_timestamp(col("a")).as("lo"), to_timestamp(col("b")).as("hi"))
    val df = pts.join(iv, col("ts") >= col("lo") && col("ts") < col("hi"))
    assert(planOf(df).contains("_graft_pbucket"), planOf(df))
    assert(df.count() == 1L)
  }

  test("date-typed validity intervals rewrite too (daily bin)") {
    val pts = Seq(("2024-01-05", 1L), ("2024-02-20", 2L))
      .toDF("s", "id").select(to_date(col("s")).as("d"), col("id"))
    val iv = Seq(("2024-01-01", "2024-01-31"), ("2024-02-01", "2024-02-29"))
      .toDF("a", "b")
      .select(to_date(col("a")).as("lo"), to_date(col("b")).as("hi"))
    val df = pts.join(iv, col("d") >= col("lo") && col("d") <= col("hi"))
    assert(!planOf(df).contains("BroadcastNestedLoopJoin"),
      "date sandwich must be rewritten")
    assert(planOf(df).contains("_graft_pbucket"), planOf(df))
    val got = df.select(col("id"), col("lo").cast("string"))
      .as[(Long, String)].collect().sorted.toSeq
    assert(got == Seq((1L, "2024-01-01"), (2L, "2024-02-01")))
  }

  test("EXISTS / NOT EXISTS sandwiches (semi/anti) rewrite and agree with raw") {
    val (semiRaw, antiRaw) = ruleOff((
      events.join(windows,
          col("ts") >= col("w_start") && col("ts") < col("w_end"), "left_semi")
        .select("event_id").as[Long].collect().sorted.toSeq,
      events.join(windows,
          col("ts") >= col("w_start") && col("ts") < col("w_end"), "left_anti")
        .select("event_id").as[Long].collect().sorted.toSeq))
    val semi = events.join(windows,
      col("ts") >= col("w_start") && col("ts") < col("w_end"), "left_semi")
    val anti = events.join(windows,
      col("ts") >= col("w_start") && col("ts") < col("w_end"), "left_anti")
    for (df <- Seq(semi, anti)) {
      val p = planOf(df)
      assert(!p.contains("BroadcastNestedLoopJoin") &&
             !p.contains("CartesianProduct"),
        s"semi/anti sandwich not rewritten:\n$p")
    }
    assert(semi.select("event_id").as[Long].collect().sorted.toSeq == semiRaw)
    assert(anti.select("event_id").as[Long].collect().sorted.toSeq == antiRaw)
    // semi ∪ anti partitions the left exactly
    assert((semiRaw ++ antiRaw).sorted == events.select("event_id")
      .as[Long].collect().sorted.toSeq)
  }

  test("semi with the point on the RIGHT is left alone (explosion would duplicate output)") {
    def q = windows.join(events,
      col("ts") >= col("w_start") && col("ts") < col("w_end"), "left_semi")
    val raw = ruleOff(q.count())
    // output side = windows; the point (ts) lives on the right —
    // rewriting would explode the OUTPUT side and duplicate rows
    assert(!planOf(q).contains("_graft_pbucket"),
      "right-point semi join must not be rewritten")
    assert(q.count() == raw)
  }

  test("a join that already has an equi key is left alone") {
    val l = Seq((1L, "2024-01-01 03:00:00"))
      .toDF("k", "s").select(col("k"), to_timestamp(col("s")).as("ts"))
    val r = Seq((1L, "2024-01-01 02:00:00", "2024-01-01 04:00:00"))
      .toDF("k", "a", "b")
      .select(col("k"), to_timestamp(col("a")).as("lo"),
        to_timestamp(col("b")).as("hi"))
    val df = l.join(r, l("k") === r("k") &&
      col("ts") >= col("lo") && col("ts") < col("hi"))
    assert(!planOf(df).contains("_graft_pbucket"),
      "an equi-keyed join must not pay the interval explosion")
    assert(df.count() == 1L)
  }

  test("auto width: rewrite fires with a data-derived bin, same rows") {
    val expected = ruleOff(naturalJoin.select(col("event_id"), col("w_start"))
      .as[(Long, java.sql.Timestamp)].collect().sorted.toSeq)
    val df = naturalJoin
    val plan = planOf(df)
    assert(plan.contains("_graft_pbucket") &&
           !plan.contains("BroadcastNestedLoopJoin") &&
           !plan.contains("CartesianProduct"),
      s"auto mode did not rewrite:\n$plan")
    val got = df.select(col("event_id"), col("w_start"))
      .as[(Long, java.sql.Timestamp)].collect().sorted.toSeq
    assert(got == expected)
  }

  test("auto width: mixed-strictness sweep agrees with the raw predicate") {
    // every strictness combination of the sandwich, each with the bin
    // width derived from the interval statistics — boundary points sit
    // exactly on interval ends to arm the off-by-one traps the width
    // derivation could reintroduce
    val pts = Seq(
      ("2024-01-01 02:00:00", 1L), // == lo
      ("2024-01-01 03:00:00", 2L), // interior
      ("2024-01-01 04:00:00", 3L), // == hi
      ("2024-01-01 05:00:00", 4L)  // outside
    ).toDF("s", "id").select(to_timestamp(col("s")).as("ts"), col("id"))
    val iv = Seq(
      ("2024-01-01 02:00:00", "2024-01-01 04:00:00"),
      ("2024-01-01 07:00:00", "2024-01-01 07:30:00")
    ).toDF("a", "b")
      .select(to_timestamp(col("a")).as("lo"), to_timestamp(col("b")).as("hi"))
    val combos = Seq[(org.apache.spark.sql.Column, Seq[Long])](
      (col("ts") >= col("lo") && col("ts") <  col("hi"), Seq(1L, 2L)),
      (col("ts") >  col("lo") && col("ts") <  col("hi"), Seq(2L)),
      (col("ts") >= col("lo") && col("ts") <= col("hi"), Seq(1L, 2L, 3L)),
      (col("ts") >  col("lo") && col("ts") <= col("hi"), Seq(2L, 3L)))
    for ((cond, want) <- combos) {
      val df = pts.join(iv, cond)
      assert(planOf(df).contains("_graft_pbucket"),
        s"auto rewrite missed a strictness combo: $cond")
      assert(df.select("id").as[Long].collect().sorted.toSeq == want,
        s"wrong rows for $cond")
    }
  }

  test("auto width: extra cross-side non-equi conjunct stays residual") {
    // a second (non-sandwich) cross-side predicate must ride along as a
    // residual on the rewritten equi join, not block the rewrite
    val raw = ruleOff(events.join(windows,
        col("ts") >= col("w_start") && col("ts") < col("w_end") &&
          col("value") >= unix_micros(col("w_start")) * lit(0.0))
      .select("event_id").as[Long].collect().sorted.toSeq)
    val df = events.join(windows,
      col("ts") >= col("w_start") && col("ts") < col("w_end") &&
        col("value") >= unix_micros(col("w_start")) * lit(0.0))
    val p = planOf(df)
    assert(p.contains("_graft_pbucket") &&
      !p.contains("BroadcastNestedLoopJoin"), p)
    assert(df.select("event_id").as[Long].collect().sorted.toSeq == raw)
  }

  test("auto width: empty interval side skips the rewrite without failing") {
    val pts = Seq(("2024-01-01 03:00:00", 1L))
      .toDF("s", "id").select(to_timestamp(col("s")).as("ts"), col("id"))
    val iv = Seq(("2024-01-01 02:00:00", "2024-01-01 04:00:00"))
      .toDF("a", "b")
      .select(to_timestamp(col("a")).as("lo"), to_timestamp(col("b")).as("hi"))
      .filter(lit(false))
    assert(pts.join(iv,
      col("ts") >= col("lo") && col("ts") < col("hi")).count() == 0L)
  }

  test("a declined join pays the width side job once per optimization") {
    // zero-length intervals (the hours 00:00-03:00 of 2024-01-01) over
    // a non-local relation: the side job is a real query, it finds no
    // width, and the rule declines; the plan never gains the bucket key,
    // so only running the rule once per optimization keeps the job from
    // repeating
    val pts = Seq(("2024-01-01 03:00:00", 1L))
      .toDF("s", "id").select(to_timestamp(col("s")).as("ts"), col("id"))
    val hour = timestamp_seconds(lit(1704067200L) + col("id") * 3600)
    val iv = spark.range(4).select(hour.as("lo"), hour.as("hi"))
    val sideJobs = new java.util.concurrent.atomic.AtomicInteger
    val listener = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        if (qe.analyzed.toString.contains("_graft_max_interval"))
          sideJobs.incrementAndGet()
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    val df = pts.join(iv, col("ts") >= col("lo") && col("ts") <= col("hi"))
    try {
      df.queryExecution.optimizedPlan
      // listener events arrive asynchronously: wait for the first, then
      // give any repeat time to land
      val deadline = System.nanoTime() + 10000000000L
      while (sideJobs.get == 0 && System.nanoTime() < deadline) Thread.sleep(50)
      Thread.sleep(500)
    } finally spark.listenerManager.unregister(listener)
    assert(sideJobs.get == 1, s"${sideJobs.get} side jobs for one optimization")
    assert(!planOf(df).contains("_graft_pbucket"))
    assert(df.count() == 1L)
  }

  test("malformed / out-of-range conf disables the rewrite, never throws") {
    // LongType bounds are microseconds as they stand; the longest
    // interval here is past MaxBinSeconds, so the width is clamped to it
    // and that interval explodes into two buckets instead of one
    val maxMicros = RangeBinJoinRule.MaxBinSeconds * 1000000L
    val pts = Seq(0L, maxMicros, maxMicros + 1000L, 2 * maxMicros)
      .zipWithIndex.map { case (p, i) => (p, i.toLong + 1) }.toDF("p", "id")
    val iv = Seq((0L, maxMicros + 1000L), (2 * maxMicros, 2 * maxMicros + 5L))
      .toDF("lo", "hi")
    def q = pts.join(iv, col("p") >= col("lo") && col("p") < col("hi"))
      .select("id").as[Long]
    val raw = ruleOff(q.collect().sorted.toSeq)
    val plan = q.queryExecution.optimizedPlan.toString
    assert(plan.contains("_graft_pbucket") && plan.contains(maxMicros.toString),
      s"expected the rewrite at the clamped width $maxMicros:\n$plan")
    assert(q.collect().sorted.toSeq == raw)
    assert(raw == Seq(1L, 2L, 4L))
    // and every subsequent query on the session still optimizes
    assert(naturalJoin.count() > 0L)
  }

  test("null points and null bounds never match (same as the raw predicate)") {
    val pts = Seq(
      (Some("2024-01-01 03:00:00"), 1L), (None, 2L)
    ).toDF("s", "id").select(to_timestamp(col("s")).as("ts"), col("id"))
    val iv = Seq(
      (Some("2024-01-01 02:00:00"), Some("2024-01-01 04:00:00")),
      (None, Some("2024-01-01 23:00:00")),
      (Some("2024-01-01 22:00:00"), None)
    ).toDF("a", "b")
      .select(to_timestamp(col("a")).as("lo"), to_timestamp(col("b")).as("hi"))
    val df = pts.join(iv, col("ts") >= col("lo") && col("ts") < col("hi"))
    assert(planOf(df).contains("_graft_pbucket"), planOf(df))
    assert(df.select("id").as[Long].collect().toSeq == Seq(1L))
  }
}
