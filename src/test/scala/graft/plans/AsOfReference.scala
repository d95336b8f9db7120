package graft.plans

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Brute-force as-of join, the specs' reference for [[AsOfJoinNative]]:
  * a key-equal left join filtered on `rt <= lt` (`rt >= lt` forward) and
  * the tolerance, reduced per left row to the right row with the max
  * (min forward) right time. Quadratic per key: test-sized inputs only.
  */
object AsOfReference {
  def join(left: DataFrame, right: DataFrame,
      leftKey: String, rightKey: String, leftTime: String, rightTime: String,
      payload: Seq[String], forward: Boolean = false,
      toleranceSeconds: Option[Long] = None): DataFrame = {
    val lt = unix_micros(col(leftTime).cast("timestamp"))
    val rt = unix_micros(col(rightTime).cast("timestamp"))
    val gap = if (forward) rt - lt else lt - rt
    val inBound = toleranceSeconds.foldLeft(gap >= 0)((c, s) => c && gap <= s * 1000000L)
    val pick = if (forward) min_by _ else max_by _
    left.withColumn("__rid", monotonically_increasing_id())
      .join(right, col(leftKey) === col(rightKey) && inBound, "left_outer")
      .groupBy(("__rid" +: left.columns.toSeq).map(col): _*)
      .agg(pick(struct(payload.map(col): _*), rt).as("__m"))
      .select(left.columns.map(col).toSeq ++ payload.map(p => col(s"__m.$p")): _*)
  }
}
