package graft.core

import java.sql.Timestamp

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.Generate
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.graft.GraftSqlShim

import graft.SparkFunSuite

/** The plain half-open point-in-interval join, which the range-join
  * rule (plans.RangeBinJoinRule) plans as an equi join on a time bucket.
  */
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

  private def inWindow(pts: DataFrame, iv: DataFrame): DataFrame =
    pts.join(iv, col("t") >= col("w_start") && col("t") < col("w_end"))

  test("half-open semantics: start in, end out, empty interval dropped") {
    val got = inWindow(points, intervals)
      .select("id", "wid").as[(Long, Long)].collect().toSet
    assert(got == Set((2L, 10L), (3L, 10L), (5L, 20L)))
  }

  test("each match appears exactly once despite interval bucket expansion") {
    val got = inWindow(points, intervals)
    assert(got.count() == 3)
    assert(got.select("id", "wid").distinct().count() == 3)
    // the width is the longest interval (4 h), so each interval explodes
    // into at most two buckets; the empty one is dropped
    val explode = got.queryExecution.optimizedPlan.collectFirst {
      case g: Generate if g.generatorOutput.exists(_.name == "_graft_ibucket") => g
    }.getOrElse(fail("interval side was not exploded into buckets"))
    val perInterval = GraftSqlShim.ofRows(spark, explode)
      .groupBy("wid").count().as[(Long, Long)].collect().toMap
    assert(perInterval.keySet == Set(10L, 20L), perInterval)
    assert(perInterval.values.forall(_ <= 2L), perInterval)
  }

  test("plans as an equi join on the bucket key, not a nested loop") {
    val plan = inWindow(points, intervals).queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan)
    assert(plan.contains("_graft_pbucket"), plan)
  }

  test("interval crossing a bucket boundary matches points in both buckets") {
    val iv = Seq((1L, ts("2024-01-01 01:30:00.0"), ts("2024-01-01 02:30:00.0")))
      .toDF("wid", "w_start", "w_end")
    val got = inWindow(points, iv)
      .select("id").as[Long].collect().toSet
    assert(got == Set(1L, 2L))
  }
}
