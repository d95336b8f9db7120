package graft.core

import graft.SparkFunSuite
import graft.plans.AsOfJoinNative
import java.sql.Timestamp

class AsOfJoinSpec extends SparkFunSuite {
  import spark.implicits._

  private def ts(s: String) = Timestamp.valueOf(s)

  test("latestPrior picks the newest right row at or before each left time") {
    val quotes = Seq(
      (1L, ts("2024-01-01 10:00:00"), 100.0),
      (1L, ts("2024-01-01 11:00:00"), 110.0),
      (2L, ts("2024-01-01 10:30:00"), 200.0)
    ).toDF("q_key", "q_ts", "price")
    val trades = Seq(
      (1L, ts("2024-01-01 10:30:00"), "t1"), // after 10:00 quote → 100.0
      (1L, ts("2024-01-01 11:00:00"), "t2"), // exactly at 11:00 quote → 110.0 (inclusive)
      (1L, ts("2024-01-01 09:00:00"), "t3"), // before any quote → null
      (2L, ts("2024-01-01 12:00:00"), "t4"), // key 2 → 200.0
      (3L, ts("2024-01-01 12:00:00"), "t5")  // no quotes for key → null
    ).toDF("t_key", "t_ts", "trade_id")

    val got = AsOfJoinNative.join(trades, quotes, "t_key", "q_key", "t_ts", "q_ts", Seq("price"))
      .collect().map(r => r.getString(2) -> Option(r.get(3))).toMap
    assert(got("t1") == Some(100.0))
    assert(got("t2") == Some(110.0))
    assert(got("t3") == None)
    assert(got("t4") == Some(200.0))
    assert(got("t5") == None)
  }

  test("latestPriorWithin discards matches older than the tolerance") {
    val quotes = Seq(
      (1L, ts("2024-01-01 10:00:00"), 100.0)
    ).toDF("q_key", "q_ts", "price")
    val trades = Seq(
      (1L, ts("2024-01-01 10:30:00"), "fresh"),   // 30 min old → kept
      (1L, ts("2024-01-01 11:00:00"), "boundary"), // exactly 1h → kept (<=)
      (1L, ts("2024-01-01 11:00:01"), "stale")    // 1h1s → nulled
    ).toDF("t_key", "t_ts", "trade_id")
    val got = AsOfJoinNative.join(trades, quotes, "t_key", "q_key", "t_ts", "q_ts",
        Seq("price"), toleranceSeconds = Some(3600L))
      .collect().map(r => r.getString(2) -> Option(r.get(3))).toMap
    assert(got("fresh") == Some(100.0))
    assert(got("boundary") == Some(100.0))
    assert(got("stale") == None)
  }

  test("latestPrior keeps every left row exactly once") {
    val ev = Tables.events(spark, sf001).select("event_id", "user_id", "ts")
    val o = Tables.orders(spark, sf001)
      .select(org.apache.spark.sql.functions.col("o_custkey"),
        org.apache.spark.sql.functions.col("o_orderdate"),
        org.apache.spark.sql.functions.col("o_orderdate").as("matched"))
    val joined = AsOfJoinNative.join(ev, o, "user_id", "o_custkey", "ts", "o_orderdate", Seq("matched"))
    assert(joined.count() == ev.count())
  }
}
