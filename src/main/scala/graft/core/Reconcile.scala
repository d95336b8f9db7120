package graft.core

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Source-vs-target reconciliation (SURVEY.md §2 J1/J2).
  *
  * The reference realizes these as file-level text ops on count records:
  * `grep -Fxf src tgt` for the matched set (verizon_automation_script.sh:179)
  * and `diff --side-by-side --suppress-common-lines` for the mismatched
  * report (:170). Here both are views over ONE full outer join keyed on
  * (table, partition) — a single shuffle over count records (T×P rows,
  * tiny at any data scale, since the heavy per-partition counting has
  * already reduced 100 TB of rows to per-partition counts).
  *
  * Status semantics reproduce diff's two-column output:
  *  - `matched`            — both sides present, equal counts (J1)
  *  - `mismatched`         — both sides present, different counts (J2)
  *  - `missing_in_target`  — src-only row (diff's `<`)
  *  - `missing_in_source`  — tgt-only row (diff's `>`)
  */
object Reconcile {

  val Matched = "matched"
  val Mismatched = "mismatched"
  val MissingInTarget = "missing_in_target"
  val MissingInSource = "missing_in_source"

  /** Full reconciliation report from two record DataFrames keyed on
    * (table, partition) with a `cnt` column: (table, partition, src_cnt,
    * tgt_cnt, status). Every further record column `c` (e.g. a digest)
    * rides through the same join as `src_c`, `tgt_c` after the counts.
    */
  def counts(src: DataFrame, tgt: DataFrame): DataFrame = {
    val vals = "cnt" +: src.columns.filterNot(Set("table", "partition", "cnt")).toSeq
    def side(df: DataFrame, p: String) =
      df.select(col("table") +: col("partition") +: vals.map(c => col(c).as(s"${p}_$c")): _*)
    // <=> join on partition: null partition (whole-table records) must
    // match null, which === would drop.
    val joined = side(src, "src").alias("s").join(side(tgt, "tgt").alias("t"),
      col("s.table") === col("t.table") && col("s.partition") <=> col("t.partition"),
      "full_outer")
    joined.select(Seq(
        coalesce(col("s.table"), col("t.table")).as("table"),
        coalesce(col("s.partition"), col("t.partition")).as("partition")) ++
      vals.flatMap(c => Seq(col(s"src_$c"), col(s"tgt_$c"))) :+
      when(col("src_cnt").isNull, MissingInSource)
        .when(col("tgt_cnt").isNull, MissingInTarget)
        .when(col("src_cnt") === col("tgt_cnt"), Matched)
        .otherwise(Mismatched)
        .as("status"): _*)
  }

  /** J1: the reference's MatchedData report. */
  def matched(report: DataFrame): DataFrame =
    report.filter(col("status") === Matched)
      .select(col("table"), col("partition"), col("src_cnt").as("cnt"))

  /** J2: the reference's TableMismatchedData report (both sides shown,
    * like diff --side-by-side).
    */
  def mismatched(report: DataFrame): DataFrame =
    report.filter(col("status") =!= Matched)
      .select(col("table"), col("partition"), col("src_cnt"), col("tgt_cnt"), col("status"))
}
