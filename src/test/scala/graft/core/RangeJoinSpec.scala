package graft.core

import java.sql.Timestamp

import graft.SparkFunSuite
import graft.plans.RangeBinJoinRule.pointInInterval

class RangeJoinSpec extends SparkFunSuite {
  import spark.implicits._

  private def ts(s: String) = Timestamp.valueOf(s)

  private val points = Seq(
    (1L, ts("2024-01-01 01:59:59.999999")), // just before window
    (2L, ts("2024-01-01 02:00:00.0")),      // inclusive start
    (3L, ts("2024-01-01 03:30:00.0")),      // inside
    (4L, ts("2024-01-01 06:00:00.0")),      // exclusive end
    (5L, ts("2024-01-02 02:30:00.0"))       // next day's window
  ).toDF("id", "t")

  private val intervals = Seq(
    (10L, ts("2024-01-01 02:00:00.0"), ts("2024-01-01 06:00:00.0")),
    (20L, ts("2024-01-02 02:00:00.0"), ts("2024-01-02 06:00:00.0")),
    (30L, ts("2024-01-03 05:00:00.0"), ts("2024-01-03 05:00:00.0")) // empty
  ).toDF("wid", "w_start", "w_end")

  test("half-open semantics: start in, end out, empty interval dropped") {
    val got = pointInInterval(points, intervals, "t", "w_start", "w_end")
      .select("id", "wid").as[(Long, Long)].collect().toSet
    assert(got == Set((2L, 10L), (3L, 10L), (5L, 20L)))
  }

  test("each match appears exactly once despite interval bucket expansion") {
    val got = pointInInterval(points, intervals, "t", "w_start", "w_end",
      bucketSeconds = 600L) // 24 buckets per interval
    assert(got.count() == 3)
    assert(got.select("id", "wid").distinct().count() == 3)
  }

  test("plans as an equi join on the bucket key, not a nested loop") {
    val plan = pointInInterval(points, intervals, "t", "w_start", "w_end")
      .queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan)
  }

  test("interval crossing a bucket boundary matches points in both buckets") {
    val iv = Seq((1L, ts("2024-01-01 01:30:00.0"), ts("2024-01-01 02:30:00.0")))
      .toDF("wid", "w_start", "w_end")
    val got = pointInInterval(points, iv, "t", "w_start", "w_end")
      .select("id").as[Long].collect().toSet
    assert(got == Set(1L, 2L))
  }
}
