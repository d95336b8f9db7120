package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col

/** SQL-surface differential sweep: the reference's user interface was
  * 100% HiveQL (verizon_automation_script.sh:99-233), so a migrator
  * writes SQL text, not DataFrame code. For every driver query whose
  * oracle SQL is ANSI enough to be valid Spark SQL too, run that exact
  * text through `spark.sql` against `GraftSession.attach`-ed warehouse
  * views and assert frame-equality with the DataFrame form — proving
  * the SQL door and the DataFrame door produce identical results.
  *
  * (Queries whose oracle uses DuckDB-only syntax — list_* lambdas,
  * ASOF JOIN, ->>, epoch(), isodow(), arg_max — are exercised through
  * the DuckDB oracle gate instead; this spec covers the Spark-SQL-
  * compatible core.)
  */
class SqlSurfaceSpec extends SparkFunSuite {

  // ≥20 shapes spanning scans, aggregates, joins (broadcast / semi /
  // anti / salted), windows, rollup/cube/grouping-sets/pivot, set ops,
  // funnels, reconciliation, and the verification-pinned sketches
  private val names = Seq(
    "q1_agg", "q3_shipping", "q5_region_revenue", "q6_forecast_revenue",
    "q18_large_orders", "show_partitions", "join_broadcast_dim",
    "window_running_total", "window_rank_topn", "window_ntile",
    "agg_rollup", "agg_cube", "grouping_sets_orders",
    "pivot_status_by_priority", "distinct_counts", "anti_join_customers",
    "semi_join_nations", "sql_correlated_exists", "skew_salted_join",
    "orders_by_month", "set_ops_orders", "except_all_orders",
    "rowcount_by_partition", "rowcount_multilevel", "rowcount_total",
    "reconcile_report", "reconcile_matched", "integrity_by_partition",
    "sample_limit", "events_funnel", "stats_moments",
    "approx_distinct_users", "sample_stratified",
    // round-6 additions with ANSI-compatible oracle text
    "sql_correlated_scalar", "orders_mom", "fuzzy_join_names",
    "dedup_incremental", "schema_evolution_scan",
    // round-12 additions with ANSI-compatible oracle text (range_join_auto
    // runs its oracle text through Spark WITHOUT the rewrite rule here —
    // the nested-loop plan at fixture scale, see `ruleOff` — proving the
    // rule changes the plan, never the answer)
    "range_join_auto", "range_antijoin_auto", "cdc_snapshot_diff",
    "compact_small_files", "rollup_incremental", "unpivot_metrics")

  /** Certs whose SQL text runs with the range-join rule excluded. */
  private val ruleOff = Set("range_join_auto", "range_antijoin_auto")

  private def canon(df: DataFrame): Seq[String] = {
    val cols = df.columns.sorted.toSeq
    df.select(cols.map(col): _*).collect().map(_.toString).sorted.toSeq
  }

  for (name <- names) test(s"SQL text == DataFrame: $name") {
    GraftSession.attach(spark, sf001)
    def viaSql = canon(spark.sql(SparkEntry.oracleSql(name)))
    val s =
      if (ruleOff(name))
        plans.GraftExtensions.withoutRule(spark, classOf[plans.RangeBinJoinRule])(viaSql)
      else viaSql
    val d = canon(SparkEntry.queries(name)(spark, sf001))
    assert(s == d,
      s"$name: SQL text and DataFrame disagree " +
        s"(${s.length} vs ${d.length} rows; first diff: " +
        s"${s.zipAll(d, "<none>", "<none>").find(p => p._1 != p._2)})")
  }
}
