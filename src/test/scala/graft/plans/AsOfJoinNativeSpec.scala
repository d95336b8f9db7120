package graft.plans

import graft.SparkFunSuite
import graft.core.Tables
import java.sql.Timestamp
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.functions._

class AsOfJoinNativeSpec extends SparkFunSuite {
  import spark.implicits._

  private def ts(s: String) = Timestamp.valueOf(s)

  private def sortedRows(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  test("native backward matches the window form on hand-built edges") {
    val quotes = Seq(
      (1L, ts("2024-01-01 10:00:00"), 100.0),
      (1L, ts("2024-01-01 11:00:00"), 110.0),
      (2L, ts("2024-01-01 10:30:00"), 200.0)
    ).toDF("q_key", "q_ts", "price")
    val trades = Seq(
      (1L, ts("2024-01-01 10:30:00"), "t1"),
      (1L, ts("2024-01-01 11:00:00"), "t2"), // tie → inclusive
      (1L, ts("2024-01-01 09:00:00"), "t3"), // before all → null
      (2L, ts("2024-01-01 12:00:00"), "t4"),
      (3L, ts("2024-01-01 12:00:00"), "t5")  // keyless → null
    ).toDF("t_key", "t_ts", "trade_id")
    val native = AsOfJoinNative.join(trades, quotes,
      "t_key", "q_key", "t_ts", "q_ts", Seq("price"))
    val reference = AsOfReference.join(trades, quotes,
      "t_key", "q_key", "t_ts", "q_ts", Seq("price"))
    assert(sortedRows(native) == sortedRows(reference))
    assert(sortedRows(native) == Seq("[1,2024-01-01 09:00:00.0,t3,null]",
      "[1,2024-01-01 10:30:00.0,t1,100.0]", "[1,2024-01-01 11:00:00.0,t2,110.0]",
      "[2,2024-01-01 12:00:00.0,t4,200.0]", "[3,2024-01-01 12:00:00.0,t5,null]"))
  }

  test("nearest mode: min |Δt| wins, equidistant tie takes the prior row") {
    val quotes = Seq(
      (1L, ts("2024-01-01 10:00:00"), 100.0),
      (1L, ts("2024-01-01 12:00:00"), 120.0),
      (2L, ts("2024-01-01 09:00:00"), 200.0)
    ).toDF("q_key", "q_ts", "price")
    val trades = Seq(
      (1L, ts("2024-01-01 10:30:00"), "bwd_nearer"),   // 30m back vs 90m fwd
      (1L, ts("2024-01-01 11:45:00"), "fwd_nearer"),   // 105m back vs 15m fwd
      (1L, ts("2024-01-01 11:00:00"), "tie_prior"),    // 60m both → prior
      (1L, ts("2024-01-01 09:00:00"), "before_all"),   // only fwd exists
      (2L, ts("2024-01-01 10:00:00"), "after_all"),    // only bwd exists
      (3L, ts("2024-01-01 10:00:00"), "keyless")       // no match
    ).toDF("t_key", "t_ts", "trade_id")
    val near = AsOfJoinNative.join(trades, quotes,
      "t_key", "q_key", "t_ts", "q_ts", Seq("price"), nearest = true)
    val got = near.collect()
      .map(r => r.getString(2) -> Option(r.get(3)).map(_.asInstanceOf[Double]))
      .toMap
    assert(got("bwd_nearer") === Some(100.0))
    assert(got("fwd_nearer") === Some(120.0))
    assert(got("tie_prior") === Some(100.0), "equidistant tie must take the prior")
    assert(got("before_all") === Some(100.0))
    assert(got("after_all") === Some(200.0))
    assert(got("keyless") === None)
    // tolerance applies to |Δt| on both sides
    val tol = AsOfJoinNative.join(trades, quotes,
      "t_key", "q_key", "t_ts", "q_ts", Seq("price"),
      nearest = true, toleranceSeconds = Some(20 * 60))
    val gotTol = tol.collect()
      .map(r => r.getString(2) -> Option(r.get(3)).map(_.asInstanceOf[Double]))
      .toMap
    assert(gotTol("fwd_nearer") === Some(120.0)) // 15m fwd within 20m
    assert(gotTol("bwd_nearer") === None)        // 30m back outside 20m
    assert(gotTol("tie_prior") === None)
  }

  test("nearest mode: differential vs per-row min-|Δt| over the events fixture") {
    val ev = Tables.events(spark, sf001)
    val errors = ev.filter($"event_type" === "error")
      .select($"event_id", $"user_id", $"ts")
    val clicks = ev.filter($"event_type" === "click")
      .groupBy($"user_id".as("c_user"), $"ts".as("c_ts"))
      .agg(max("event_id").as("c_id"))
    val near = AsOfJoinNative.join(errors, clicks,
      "user_id", "c_user", "ts", "c_ts", Seq("c_ts"), nearest = true)
      .select($"event_id", col("c_ts").as("near_ts"))
    // oracle: window-free brute force — join all candidates, keep the
    // min (|Δ|, c_ts) per event (same tie rule: prior = smaller c_ts)
    val brute = errors.join(clicks, $"user_id" === $"c_user", "left_outer")
      .withColumn("d", abs(unix_micros($"c_ts") - unix_micros($"ts")))
      .groupBy($"event_id")
      .agg(min_by($"c_ts", struct($"d", $"c_ts")).as("near_ts"))
    assert(sortedRows(near) == sortedRows(brute))
  }

  test("native plan contains AsOfJoinExec and exactly two shuffles") {
    val quotes = Seq((1L, ts("2024-01-01 10:00:00"), 1.0)).toDF("k", "t", "v")
    val trades = Seq((1L, ts("2024-01-01 10:30:00"), "x")).toDF("k2", "t2", "id")
    val df = AsOfJoinNative.join(trades, quotes, "k2", "k", "t2", "t", Seq("v"))
    df.collect()
    // query stages are LEAF nodes — collect through them explicitly
    def deepCollect[T](p: org.apache.spark.sql.execution.SparkPlan)(
        pf: PartialFunction[org.apache.spark.sql.execution.SparkPlan, T]): Seq[T] =
      p.collect {
        case s: QueryStageExec => deepCollect(s.plan)(pf)
        case n if pf.isDefinedAt(n) => Seq(pf(n))
      }.flatten
    val executed = df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
    assert(deepCollect(executed) { case e: AsOfJoinExec => e }.nonEmpty,
      s"expected AsOfJoinExec in:\n$executed")
    val shuffles = deepCollect(executed) { case s: ShuffleExchangeLike => s }
    assert(shuffles.length == 2, s"expected 2 shuffles, got ${shuffles.length}")
  }

  test("native == window form on the events/orders fixture (backward)") {
    val ev = Tables.events(spark, sf001).select("event_id", "user_id", "ts")
    val o = Tables.orders(spark, sf001)
      .select(col("o_custkey"), col("o_orderdate"),
        col("o_orderdate").as("matched"))
    val native = AsOfJoinNative.join(ev, o,
      "user_id", "o_custkey", "ts", "o_orderdate", Seq("matched"))
    val reference = AsOfReference.join(ev, o,
      "user_id", "o_custkey", "ts", "o_orderdate", Seq("matched"))
    assert(native.count() == ev.count())
    assert(sortedRows(native) == sortedRows(reference))
  }

  test("native == window form on the fixture (forward)") {
    val ev = Tables.events(spark, sf001)
    val clicks = ev.filter(col("event_type") === "click")
      .select("event_id", "user_id", "ts")
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user"), col("ts").as("p_ts"),
        col("ts").as("next_purchase"))
    val native = AsOfJoinNative.join(clicks, purchases,
      "user_id", "p_user", "ts", "p_ts", Seq("next_purchase"), forward = true)
    val reference = AsOfReference.join(clicks, purchases,
      "user_id", "p_user", "ts", "p_ts", Seq("next_purchase"), forward = true)
    assert(sortedRows(native) == sortedRows(reference))
  }

  test("tolerance nulls matches beyond the bound, boundary inclusive") {
    val quotes = Seq((1L, ts("2024-01-01 10:00:00"), 100.0)).toDF("k", "t", "price")
    val trades = Seq(
      (1L, ts("2024-01-01 10:30:00"), "fresh"),
      (1L, ts("2024-01-01 11:00:00"), "boundary"),
      (1L, ts("2024-01-01 11:00:01"), "stale")
    ).toDF("k2", "t2", "id")
    val got = AsOfJoinNative.join(trades, quotes, "k2", "k", "t2", "t",
        Seq("price"), toleranceSeconds = Some(3600L))
      .collect().map(r => r.getString(2) -> Option(r.get(3))).toMap
    assert(got("fresh") == Some(100.0))
    assert(got("boundary") == Some(100.0))
    assert(got("stale") == None)
    // forward tolerance mirror
    val fwd = AsOfJoinNative.join(
        Seq((1L, ts("2024-01-01 09:00:00"), "a"),
            (1L, ts("2024-01-01 09:59:59"), "b"),
            (1L, ts("2024-01-01 08:59:59"), "c")).toDF("k2", "t2", "id"),
        quotes, "k2", "k", "t2", "t", Seq("price"),
        forward = true, toleranceSeconds = Some(3600L))
      .collect().map(r => r.getString(2) -> Option(r.get(3))).toMap
    assert(fwd("a") == Some(100.0))   // 1h exactly
    assert(fwd("b") == Some(100.0))
    assert(fwd("c") == None)          // 1h1s ahead → nulled
  }

  test("empty right side leaves every left row unmatched") {
    val quotes = Seq.empty[(Long, Timestamp, Double)].toDF("k", "t", "v")
    val trades = Seq((1L, ts("2024-01-01 10:00:00"), "x")).toDF("k2", "t2", "id")
    val got = AsOfJoinNative.join(trades, quotes, "k2", "k", "t2", "t", Seq("v"))
    assert(got.count() == 1 && got.collect().head.isNullAt(3))
  }

  test("null keys and null times never match") {
    val quotes = Seq(
      (Option(1L), Option(ts("2024-01-01 10:00:00")), 100.0),
      (Option.empty[Long], Option(ts("2024-01-01 10:00:00")), 666.0),
      (Option(1L), Option.empty[Timestamp], 667.0)
    ).toDF("k", "t", "v")
    val trades = Seq(
      (Option(1L), Option(ts("2024-01-01 11:00:00")), "match"),
      (Option.empty[Long], Option(ts("2024-01-01 11:00:00")), "nullkey"),
      (Option(1L), Option.empty[Timestamp], "nulltime")
    ).toDF("k2", "t2", "id")
    val got = AsOfJoinNative.join(trades, quotes, "k2", "k", "t2", "t", Seq("v"))
      .collect().map(r => r.getString(2) -> Option(r.get(3))).toMap
    assert(got("match") == Some(100.0)) // real row wins, null right rows skipped
    assert(got("nullkey") == None)
    assert(got("nulltime") == None)
  }

  test("skew-salted == unsalted on the fixture, both directions") {
    val ev = Tables.events(spark, sf001).select("event_id", "user_id", "ts")
    val o = Tables.orders(spark, sf001)
      .select(col("o_custkey"), col("o_orderdate"),
        col("o_orderdate").as("matched"))
    val plain = AsOfJoinNative.join(ev, o,
      "user_id", "o_custkey", "ts", "o_orderdate", Seq("matched"))
    val salted = AsOfJoinNative.joinSkewSalted(ev, o,
      "user_id", "o_custkey", "ts", "o_orderdate", Seq("matched"),
      numSplits = 8)
    assert(sortedRows(salted) == sortedRows(plain))
    // forward mirror over the same frames (orders as the future side)
    val plainF = AsOfJoinNative.join(ev, o,
      "user_id", "o_custkey", "ts", "o_orderdate", Seq("matched"),
      forward = true)
    val saltedF = AsOfJoinNative.joinSkewSalted(ev, o,
      "user_id", "o_custkey", "ts", "o_orderdate", Seq("matched"),
      forward = true, numSplits = 8)
    assert(sortedRows(saltedF) == sortedRows(plainF))
  }

  test("skew-salted == unsalted under a hot key, tolerance, and nulls") {
    // ONE key owns every row — the exact shape the splits exist for —
    // with null keys/times mixed in and a tolerance bound engaged; a
    // boundary row served to the wrong split or a dropped clamped row
    // shows up as a differential here
    val rnd = new scala.util.Random(7)
    val base = ts("2024-01-01 00:00:00").getTime
    def t(): Option[Timestamp] =
      if (rnd.nextInt(20) == 0) None
      else Some(new Timestamp(base + rnd.nextInt(500000) * 1000L))
    def k(): Option[Long] =
      if (rnd.nextInt(20) == 0) None
      else if (rnd.nextInt(10) < 9) Some(1L) else Some(rnd.nextInt(3).toLong)
    val left = (1 to 400).map(i => (k(), t(), s"l$i")).toDF("k", "t", "id")
    val right = (1 to 300).map(i => (k(), t()))
      .map { case (rk, rt) => (rk, rt, rt) }.toDF("rk", "rt", "pay")
      .groupBy("rk", "rt").agg(max("pay").as("pay")) // pre-reduce ties
    for (fwd <- Seq(false, true); tol <- Seq(None, Some(3600L))) {
      val plain = AsOfJoinNative.join(left, right, "k", "rk", "t", "rt",
        Seq("pay"), forward = fwd, toleranceSeconds = tol)
      val salted = AsOfJoinNative.joinSkewSalted(left, right, "k", "rk",
        "t", "rt", Seq("pay"), forward = fwd, toleranceSeconds = tol,
        numSplits = 8)
      assert(sortedRows(salted) == sortedRows(plain),
        s"forward=$fwd tol=$tol")
    }
  }

  test("joinAuto engages salting on a hot key, stays plain on uniform keys") {
    val base = ts("2024-01-01 00:00:00").getTime
    def mk(keyOf: Int => Long, n: Int) =
      (1 to n).map(i => (keyOf(i), new Timestamp(base + i * 1000L), s"r$i"))
    // hot: one key owns 50% of rows; uniform: 100 keys evenly
    val hotL = mk(i => if (i % 2 == 0) 1L else (i % 100).toLong, 2000)
      .toDF("k", "t", "id")
    val hotR = mk(i => if (i % 2 == 0) 1L else (i % 100).toLong, 1500)
      .map { case (k, t, _) => (k, t, t) }.toDF("rk", "rt", "pay")
      .groupBy("rk", "rt").agg(max("pay").as("pay"))
    val uniL = mk(i => (i % 100).toLong, 2000).toDF("k", "t", "id")
    val uniR = mk(i => (i % 100).toLong, 1500)
      .map { case (k, t, _) => (k, t, t) }.toDF("rk", "rt", "pay")
      .groupBy("rk", "rt").agg(max("pay").as("pay"))
    val (hotDf, hotEngaged, hotFrac) = AsOfJoinNative.joinAutoWithDecision(
      hotL, hotR, "k", "rk", "t", "rt", Seq("pay"))
    assert(hotEngaged, f"hot key missed: sampled frac=$hotFrac%.3f")
    assert(sortedRows(hotDf) == sortedRows(AsOfJoinNative.join(
      hotL, hotR, "k", "rk", "t", "rt", Seq("pay"))))
    val (uniDf, uniEngaged, uniFrac) = AsOfJoinNative.joinAutoWithDecision(
      uniL, uniR, "k", "rk", "t", "rt", Seq("pay"))
    assert(!uniEngaged, f"uniform stream salted: sampled frac=$uniFrac%.3f")
    assert(sortedRows(uniDf) == sortedRows(AsOfJoinNative.join(
      uniL, uniR, "k", "rk", "t", "rt", Seq("pay"))))
  }

  test("skew-salted plans the native exec on the (key, split) keys") {
    val ev = Tables.events(spark, sf001).select("event_id", "user_id", "ts")
    val o = Tables.orders(spark, sf001)
      .select(col("o_custkey"), col("o_orderdate"),
        col("o_orderdate").as("matched"))
    val df = AsOfJoinNative.joinSkewSalted(ev, o,
      "user_id", "o_custkey", "ts", "o_orderdate", Seq("matched"))
    val nodes = df.queryExecution.optimizedPlan.collect {
      case p: AsOfJoinPlan => p }
    assert(nodes.nonEmpty, "salted join lost the native operator")
    assert(nodes.head.leftKeys.length == 2,
      "salted join must cluster on (key, split)")
  }

  test("randomized differential: native == window form across directions") {
    val rnd = new scala.util.Random(42)
    val base = ts("2024-01-01 00:00:00").getTime
    def mk(n: Int, tag: String) = (1 to n).map { i =>
      (rnd.nextInt(5).toLong, new Timestamp(base + rnd.nextInt(100000) * 1000L), s"$tag$i")
    }
    val left = mk(300, "l").toDF("k", "t", "id")
    val right = mk(200, "r")
      .map { case (k, t, _) => (k, t, t) }.toDF("rk", "rt", "pay")
      // pre-reduce ties: payload must be deterministic under equal (k, t)
      .groupBy("rk", "rt").agg(max("pay").as("pay"))
    for (fwd <- Seq(false, true)) {
      val native = AsOfJoinNative.join(left, right, "k", "rk", "t", "rt",
        Seq("pay"), forward = fwd)
      val reference = AsOfReference.join(left, right, "k", "rk", "t", "rt",
        Seq("pay"), forward = fwd)
      assert(sortedRows(native) == sortedRows(reference), s"forward=$fwd")
    }
  }

  test("native == brute-force reference on 25 seeded cases with null keys and times") {
    // each case's key is folded with its id, so one join per direction
    // covers all 25; null keys and null times never match (SQL equality)
    val rnd = new scala.util.Random(2024)
    val base = ts("2024-01-01 00:00:00").getTime
    def key(c: Int): Option[Long] =
      if (rnd.nextInt(8) == 0) None else Some(c * 10L + rnd.nextInt(3))
    def time(): Option[Timestamp] =
      if (rnd.nextInt(8) == 0) None
      else Some(new Timestamp(base + rnd.nextInt(4 * 3600) * 1000L))
    val cases = (0 until 25).map { c =>
      (Seq.fill(1 + rnd.nextInt(12))((key(c), time())),
        Seq.fill(rnd.nextInt(10))((key(c), time())))
    }
    val left = cases.flatMap(_._1).zipWithIndex
      .map { case ((k, t), i) => (k, t, s"l$i") }.toDF("k", "t", "id")
    val right = cases.flatMap(_._2).zipWithIndex
      .map { case ((k, t), i) => (k, t, s"r$i") }.toDF("rk", "rt", "pay")
      // one payload per (key, time): the tie winner is unspecified
      .groupBy("rk", "rt").agg(max("pay").as("pay"))
    var matched = 0
    for (fwd <- Seq(false, true); tol <- Seq(None, Some(3600L))) {
      val native = sortedRows(AsOfJoinNative.join(left, right, "k", "rk",
        "t", "rt", Seq("pay"), forward = fwd, toleranceSeconds = tol))
      assert(native == sortedRows(AsOfReference.join(left, right, "k", "rk",
        "t", "rt", Seq("pay"), forward = fwd, toleranceSeconds = tol)),
        s"forward=$fwd tol=$tol")
      assert(native.length == left.count())
      matched += native.count(!_.endsWith(",null]"))
    }
    assert(matched > 0)
    // a null-keyed or null-timed left row is never matched
    val nulls = AsOfJoinNative.join(left, right, "k", "rk", "t", "rt", Seq("pay"))
      .filter(col("k").isNull || col("t").isNull)
    assert(nulls.count() > 0 && nulls.filter(col("pay").isNotNull).count() == 0)
  }
}
