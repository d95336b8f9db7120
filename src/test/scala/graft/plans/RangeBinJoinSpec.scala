package graft.plans

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.FormattedMode
import org.apache.spark.sql.functions._

import graft.core.Tables

/** The automatic range-join rewrite (plans.RangeBinJoinRule via
  * GraftExtensions): a plain SQL non-equi interval join must come out
  * of the optimizer as an EQUI join on the injected bucket key — and
  * produce exactly the rows of the nested-loop original.
  */
class RangeBinJoinSpec extends graft.SparkFunSuite {
  import spark.implicits._

  private def withBinStr[A](value: String)(body: => A): A = {
    val key = RangeBinJoinRule.BinSecondsKey
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, value)
    try body finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None    => spark.conf.unset(key)
    }
  }

  private def withBin[A](seconds: Long)(body: => A): A =
    withBinStr(seconds.toString)(body)

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
    val plan = planOf(naturalJoin)
    assert(plan.contains("BroadcastNestedLoopJoin") ||
           plan.contains("CartesianProduct"),
      s"without the rule a non-equi join has no equi key:\n$plan")
    assert(!plan.contains("_graft_pbucket"))
  }

  test("enabled: rewritten to an equi join on the bucket, same rows") {
    val expected = naturalJoin.select(col("event_id"), col("w_start"))
      .as[(Long, java.sql.Timestamp)].collect().sorted.toSeq
    withBin(3600L) {
      val df = naturalJoin
      val plan = planOf(df)
      assert(!plan.contains("BroadcastNestedLoopJoin") &&
             !plan.contains("CartesianProduct"),
        s"rule enabled but the nested loop survived:\n$plan")
      val got = df.select(col("event_id"), col("w_start"))
        .as[(Long, java.sql.Timestamp)].collect().sorted.toSeq
      assert(got == expected)
    }
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
    withBin(3600L) {
      val got = pts.join(iv, col("ts") >= col("lo") && col("ts") < col("hi"))
        .select("id").as[Long].collect().sorted.toSeq
      assert(got == Seq(1L, 2L), "ts == hi must not match a half-open interval")
    }
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
    withBin(3600L) {
      val df = pts.join(iv, col("ts").between(col("lo"), col("hi")))
      assert(!planOf(df).contains("BroadcastNestedLoopJoin"),
        "BETWEEN sandwich must be rewritten too")
      assert(df.select("id").as[Long].collect().toSeq == Seq(1L))
    }
  }

  test("single-instant interval (lo == hi, inclusive) survives and matches") {
    val pts = Seq(("2024-01-01 03:00:00", 1L))
      .toDF("s", "id").select(to_timestamp(col("s")).as("ts"), col("id"))
    val iv = Seq(("2024-01-01 03:00:00", "2024-01-01 03:00:00"))
      .toDF("a", "b")
      .select(to_timestamp(col("a")).as("lo"), to_timestamp(col("b")).as("hi"))
    withBin(3600L) {
      assert(pts.join(iv,
        col("ts") >= col("lo") && col("ts") <= col("hi")).count() == 1L)
    }
  }

  test("strict lower bound: the boundary point is excluded, rewrite still fires") {
    val pts = Seq(
      ("2024-01-01 02:00:00", 1L), // == lo, excluded by >
      ("2024-01-01 02:30:00", 2L)
    ).toDF("s", "id").select(to_timestamp(col("s")).as("ts"), col("id"))
    val iv = Seq(("2024-01-01 02:00:00", "2024-01-01 04:00:00"))
      .toDF("a", "b")
      .select(to_timestamp(col("a")).as("lo"), to_timestamp(col("b")).as("hi"))
    withBin(3600L) {
      val df = pts.join(iv, col("ts") > col("lo") && col("ts") < col("hi"))
      assert(!planOf(df).contains("BroadcastNestedLoopJoin"))
      assert(df.select("id").as[Long].collect().toSeq == Seq(2L))
    }
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
    withBin(3600L) {
      val got = pts.join(iv, col("ts") >= col("lo") && col("ts") < col("hi"))
        .count()
      assert(got == 1L)
    }
  }

  test("date-typed validity intervals rewrite too (daily bin)") {
    val pts = Seq(("2024-01-05", 1L), ("2024-02-20", 2L))
      .toDF("s", "id").select(to_date(col("s")).as("d"), col("id"))
    val iv = Seq(("2024-01-01", "2024-01-31"), ("2024-02-01", "2024-02-29"))
      .toDF("a", "b")
      .select(to_date(col("a")).as("lo"), to_date(col("b")).as("hi"))
    withBin(86400L) {
      val df = pts.join(iv, col("d") >= col("lo") && col("d") <= col("hi"))
      assert(!planOf(df).contains("BroadcastNestedLoopJoin"),
        "date sandwich must be rewritten")
      val got = df.select(col("id"), col("lo").cast("string"))
        .as[(Long, String)].collect().sorted.toSeq
      assert(got == Seq((1L, "2024-01-01"), (2L, "2024-02-01")))
    }
  }

  test("EXISTS / NOT EXISTS sandwiches (semi/anti) rewrite and agree with raw") {
    val semiRaw = events.join(windows,
        col("ts") >= col("w_start") && col("ts") < col("w_end"), "left_semi")
      .select("event_id").as[Long].collect().sorted.toSeq
    val antiRaw = events.join(windows,
        col("ts") >= col("w_start") && col("ts") < col("w_end"), "left_anti")
      .select("event_id").as[Long].collect().sorted.toSeq
    withBin(3600L) {
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
  }

  test("semi with the point on the RIGHT is left alone (explosion would duplicate output)") {
    def q = windows.join(events,
      col("ts") >= col("w_start") && col("ts") < col("w_end"), "left_semi")
    val raw = q.count()
    withBin(3600L) {
      // output side = windows; the point (ts) lives on the right —
      // rewriting would explode the OUTPUT side and duplicate rows
      assert(!planOf(q).contains("_graft_pbucket"),
        "right-point semi join must not be rewritten")
      assert(q.count() == raw)
    }
  }

  test("a join that already has an equi key is left alone") {
    val l = Seq((1L, "2024-01-01 03:00:00"))
      .toDF("k", "s").select(col("k"), to_timestamp(col("s")).as("ts"))
    val r = Seq((1L, "2024-01-01 02:00:00", "2024-01-01 04:00:00"))
      .toDF("k", "a", "b")
      .select(col("k"), to_timestamp(col("a")).as("lo"),
        to_timestamp(col("b")).as("hi"))
    withBin(3600L) {
      val df = l.join(r, l("k") === r("k") &&
        col("ts") >= col("lo") && col("ts") < col("hi"))
      assert(!planOf(df).contains("_graft_pbucket"),
        "an equi-keyed join must not pay the interval explosion")
      assert(df.count() == 1L)
    }
  }

  test("auto width: rewrite fires with a data-derived bin, same rows") {
    val expected = naturalJoin.select(col("event_id"), col("w_start"))
      .as[(Long, java.sql.Timestamp)].collect().sorted.toSeq
    withBinStr("auto") {
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
  }

  test("auto width: mixed-strictness sweep agrees with the raw predicate") {
    // every strictness combination of the sandwich, each with the bin
    // width derived from the interval statistics rather than a conf —
    // boundary points sit exactly on interval ends to arm the
    // off-by-one traps the width derivation could reintroduce
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
    withBinStr("auto") {
      for ((cond, want) <- combos) {
        val df = pts.join(iv, cond)
        assert(planOf(df).contains("_graft_pbucket"),
          s"auto rewrite missed a strictness combo: $cond")
        assert(df.select("id").as[Long].collect().sorted.toSeq == want,
          s"wrong rows for $cond")
      }
    }
  }

  test("auto width: extra cross-side non-equi conjunct stays residual") {
    // a second (non-sandwich) cross-side predicate must ride along as a
    // residual on the rewritten equi join, not block the rewrite
    val raw = events.join(windows,
        col("ts") >= col("w_start") && col("ts") < col("w_end") &&
          col("value") >= unix_micros(col("w_start")) * lit(0.0))
      .select("event_id").as[Long].collect().sorted.toSeq
    withBinStr("auto") {
      val df = events.join(windows,
        col("ts") >= col("w_start") && col("ts") < col("w_end") &&
          col("value") >= unix_micros(col("w_start")) * lit(0.0))
      val p = planOf(df)
      assert(p.contains("_graft_pbucket") &&
        !p.contains("BroadcastNestedLoopJoin"), p)
      assert(df.select("event_id").as[Long].collect().sorted.toSeq == raw)
    }
  }

  test("auto width: empty interval side skips the rewrite without failing") {
    val pts = Seq(("2024-01-01 03:00:00", 1L))
      .toDF("s", "id").select(to_timestamp(col("s")).as("ts"), col("id"))
    val iv = Seq(("2024-01-01 02:00:00", "2024-01-01 04:00:00"))
      .toDF("a", "b")
      .select(to_timestamp(col("a")).as("lo"), to_timestamp(col("b")).as("hi"))
      .filter(lit(false))
    withBinStr("auto") {
      assert(pts.join(iv,
        col("ts") >= col("lo") && col("ts") < col("hi")).count() == 0L)
    }
  }

  test("malformed / out-of-range conf disables the rewrite, never throws") {
    for (bad <- Seq("garbage", "-5", "1e6", "999999999999999999999",
        (RangeBinJoinRule.MaxBinSeconds + 1).toString)) {
      withBinStr(bad) {
        val df = naturalJoin
        assert(!planOf(df).contains("_graft_pbucket"),
          s"conf '$bad' must disable the rewrite")
        // and every subsequent query on the session still optimizes
        assert(df.count() > 0L)
      }
    }
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
    withBin(3600L) {
      val got = pts.join(iv, col("ts") >= col("lo") && col("ts") < col("hi"))
        .select("id").as[Long].collect().toSeq
      assert(got == Seq(1L))
    }
  }
}
