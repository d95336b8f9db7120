package graft.core

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Distributed as-of join (time-series "latest prior value" lookup).
  *
  * Spark has no ASOF JOIN operator; the preference ladder (compose
  * built-ins before custom plans) lands on the union-and-window
  * formulation: tag both inputs, union them, and for each left row take
  * the running `last(right payload, ignoreNulls)` over a per-key window
  * ordered by time with right rows sorted BEFORE left rows at equal
  * timestamps (inclusive `rightTime <= leftTime` semantics, matching
  * DuckDB's ASOF JOIN which oracle-checks this operator).
  *
  * Scale shape: ONE shuffle on the key + a per-partition sort — same
  * cost as a sort-merge join, no range explosion, no per-row lookup.
  * This is the canonical distributed as-of; a custom SparkPlan would
  * save only the null-padding of the unioned schema.
  *
  * Determinism note: if several right rows share (key, time), which
  * payload wins is tie-dependent; payloads that are functions of
  * (key, time) — like the matched time itself — are always
  * deterministic. Callers needing a specific winner should pre-reduce
  * the right side (e.g. max_by per (key, time)) first.
  */
object AsOfJoin {

  /** Left as-of join: every `left` row, plus `payload` columns from the
    * latest `right` row with `right(rightTime) <= left(leftTime)` within
    * the same key (nulls when no prior right row exists).
    */
  def latestPrior(
      left: DataFrame, right: DataFrame,
      leftKey: String, rightKey: String,
      leftTime: String, rightTime: String,
      payload: Seq[String]): DataFrame = {

    val leftCols = left.columns.toSeq
    require(!payload.exists(leftCols.contains),
      s"payload columns ${payload.filter(leftCols.contains)} collide with left columns")

    val l = left.select(
      (Seq(
        col(leftKey).as("__key"),
        col(leftTime).as("__t"),
        lit(0).as("__is_right")) ++
        leftCols.map(col) ++
        payload.map(p => lit(null).cast(right.schema(p).dataType).as(p))): _*)
    val r = right.select(
      (Seq(
        col(rightKey).as("__key"),
        col(rightTime).as("__t"),
        lit(1).as("__is_right")) ++
        leftCols.map(c => lit(null).cast(left.schema(c).dataType).as(c)) ++
        payload.map(col)): _*)

    // right rows first at equal __t → inclusive as-of (<=)
    val w = Window.partitionBy(col("__key"))
      .orderBy(col("__t").asc, col("__is_right").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)

    val filled = payload.foldLeft(l.unionByName(r)) { (df, p) =>
      df.withColumn(p, last(col(p), ignoreNulls = true).over(w))
    }
    filled.filter(col("__is_right") === 0)
      .select((leftCols ++ payload).map(col): _*)
  }

  /** Forward as-of join: every `left` row, plus `payload` columns from
    * the EARLIEST `right` row with `right(rightTime) >= left(leftTime)`
    * within the same key (nulls when no following right row exists) —
    * the attribution/follow-up direction of [[latestPrior]]. Identical
    * one-shuffle union-and-window shape; only the window order flips
    * (descending time, right rows still first at equal timestamps so the
    * join stays inclusive).
    */
  def earliestFollowing(
      left: DataFrame, right: DataFrame,
      leftKey: String, rightKey: String,
      leftTime: String, rightTime: String,
      payload: Seq[String]): DataFrame = {

    val leftCols = left.columns.toSeq
    require(!payload.exists(leftCols.contains),
      s"payload columns ${payload.filter(leftCols.contains)} collide with left columns")

    val l = left.select(
      (Seq(
        col(leftKey).as("__key"),
        col(leftTime).as("__t"),
        lit(0).as("__is_right")) ++
        leftCols.map(col) ++
        payload.map(p => lit(null).cast(right.schema(p).dataType).as(p))): _*)
    val r = right.select(
      (Seq(
        col(rightKey).as("__key"),
        col(rightTime).as("__t"),
        lit(1).as("__is_right")) ++
        leftCols.map(c => lit(null).cast(left.schema(c).dataType).as(c)) ++
        payload.map(col)): _*)

    // time DESCENDING: the running last() then resolves to the SMALLEST
    // right time that is >= the left time; right rows first at equal __t
    // → inclusive (>=)
    val w = Window.partitionBy(col("__key"))
      .orderBy(col("__t").desc, col("__is_right").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)

    val filled = payload.foldLeft(l.unionByName(r)) { (df, p) =>
      df.withColumn(p, last(col(p), ignoreNulls = true).over(w))
    }
    filled.filter(col("__is_right") === 0)
      .select((leftCols ++ payload).map(col): _*)
  }

  /** As-of join with a lookback bound: like [[latestPrior]], but a match
    * older than `toleranceSeconds` before the left time is discarded
    * (payloads null) — the standard "stale quote" guard. Built on
    * latestPrior by carrying the matched right time as an extra payload
    * and nulling payloads outside the window afterwards; same
    * one-shuffle cost.
    */
  def latestPriorWithin(
      left: DataFrame, right: DataFrame,
      leftKey: String, rightKey: String,
      leftTime: String, rightTime: String,
      payload: Seq[String], toleranceSeconds: Long): DataFrame = {
    val joined = latestPrior(
      left, right.withColumn("__rt", col(rightTime)),
      leftKey, rightKey, leftTime, rightTime, payload :+ "__rt")
    // cast both sides: inputs may mix TIMESTAMP and TIMESTAMP_NTZ (the
    // session runs UTC, so the cast is value-preserving)
    val within = col("__rt").isNotNull &&
      unix_micros(col(leftTime).cast("timestamp")) -
        unix_micros(col("__rt").cast("timestamp")) <=
        toleranceSeconds * 1000000L
    payload.foldLeft(joined) { (df, p) =>
      df.withColumn(p, when(within, col(p)))
    }.drop("__rt")
  }
}
