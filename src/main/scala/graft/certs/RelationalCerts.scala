package graft
package certs

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.FormattedMode
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.core.{Tables, Transforms}
import graft.functions.CmsSketch
import graft.stream.StreamRun

/** Relational and SQL-surface certifications: joins (broadcast /
  * shuffle / semi / anti), window functions, grouping sets, statistics,
  * sketches, and the SQL-only shapes (correlated, recursive, lateral).
  *
  * Scale idioms on display, chosen deliberately:
  *  - dimension joins take `broadcast()` hints (no shuffle of the fact
  *    table's join input; only the dim table travels);
  *  - fact-fact joins shuffle on the join key and pre-aggregate where
  *    the grouping allows;
  *  - top-k = orderBy+limit → TakeOrdered (per-partition top-k, k rows
  *    to the driver, never a full sort);
  *  - rank-per-group ≤ k → WindowGroupLimit pushes the limit below the
  *    shuffle;
  *  - doubles that feed rankings are rounded before comparison so
  *    engine-vs-oracle summation noise cannot reorder results.
  */
object RelationalCerts {

  private def recursiveTreeSql(customer: String): String =
    s"""WITH RECURSIVE walk(start, cur, depth) AS (
       |  SELECT c_custkey, c_custkey, 0 FROM $customer
       |  UNION ALL
       |  SELECT start, CAST(floor(cur / 2) AS BIGINT), depth + 1
       |  FROM walk WHERE cur > 1)
       |SELECT depth AS tree_depth, count(*) AS n_customers FROM (
       |  SELECT start, max(depth) AS depth FROM walk GROUP BY start)
       |GROUP BY 1""".stripMargin

  /** Comma-LATERAL spelling: the one both engines parse (DuckDB's
    * `JOIN LATERAL` form requires an ON clause Spark doesn't).
    */
  private def lateralTopkSql(customer: String, orders: String): String =
    s"""SELECT c.c_custkey, o.o_orderkey, o.o_totalprice
       |FROM $customer c, LATERAL (
       |  SELECT o_orderkey, o_totalprice FROM $orders
       |  WHERE o_custkey = c.c_custkey
       |  ORDER BY o_totalprice DESC, o_orderkey LIMIT 2) o""".stripMargin

  private def requireMatchesOnePass(ev: DataFrame, merged: Array[Byte],
                                    what: String): Unit = {
    val direct = ev.agg(CmsSketch.buildLong(col("user_id")).as("sk"))
      .head().getAs[Array[Byte]](0)
    require(java.util.Arrays.equals(merged, direct),
      s"$what must equal the one-pass corpus sketch byte-for-byte")
  }

  /** Per probed user: exact count plus the two CMS guarantees as
    * verdict columns (never undercounts; overcount within eps·N). The
    * 1-row sketch collect and the 10-key probe loop are driver-side BY
    * DESIGN — the sketch IS the driver-sized summary of the corpus.
    */
  private def cmsProbeVerdict(s: SparkSession, ev: DataFrame,
                              sketch: Array[Byte]): DataFrame = {
    val cms = CmsSketch.deserialize(sketch)
    val slack = CmsSketch.Eps * cms.totalCount()
    val probes = (0L until 10L).map { u =>
      (u, cms.estimateCount(java.lang.Long.valueOf(u)))
    }
    import s.implicits._
    val estDf = probes.toDF("user_id", "n_est")
    ev.filter(col("user_id") < 10)
      .groupBy(col("user_id")).agg(count(lit(1)).as("n_exact"))
      .join(broadcast(estDf), "user_id")
      .select(col("user_id"), col("n_exact"),
        (col("n_est") >= col("n_exact")).as("lower_ok"),
        (col("n_est") <= col("n_exact") + lit(slack)).as("within_eps"))
  }

  private val cmsProbeOracle: String =
    """SELECT user_id, count(*) AS n_exact,
      |       TRUE AS lower_ok, TRUE AS within_eps
      |FROM events WHERE user_id < 10
      |GROUP BY 1""".stripMargin

  private val HllOracle =
    """SELECT count(DISTINCT l_orderkey) AS n_exact,
      |       count(DISTINCT l_returnflag) AS n_groups,
      |       true AS within_tolerance
      |FROM lineitem""".stripMargin

  val all: Seq[Cert] = Seq(
    // Flagship: TPC-H Q1-style pricing summary (A1 generalized beyond the
    // reference's count(*)-only surface).
    Cert("q1_agg",
      """SELECT l_returnflag, l_linestatus,
        |       round(sum(l_quantity), 2) AS sum_qty,
        |       round(sum(l_extendedprice), 2) AS sum_base_price,
        |       round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
        |       round(avg(l_discount), 6) AS avg_disc,
        |       count(*) AS count_order
        |FROM lineitem GROUP BY 1, 2""".stripMargin) { (s, dir) =>
      Tables.lineitem(s, dir)
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
          round(sum("l_quantity"), 2).as("sum_qty"),
          round(sum("l_extendedprice"), 2).as("sum_base_price"),
          round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2).as("sum_disc_price"),
          round(avg("l_discount"), 6).as("avg_disc"),
          count(lit(1)).as("count_order"))
    },
    // Broadcast dimension join: part is small → broadcast hash join,
    // lineitem never shuffles for the join.
    Cert("join_broadcast_dim",
      """SELECT p_brand,
        |       round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
        |       count(*) AS n_items
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |GROUP BY 1""".stripMargin) { (s, dir) =>
      Tables.lineitem(s, dir)
        .join(broadcast(Tables.part(s, dir)),
          col("l_partkey") === col("p_partkey"))
        .groupBy(col("p_brand"))
        .agg(
          round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2).as("revenue"),
          count(lit(1)).as("n_items"))
    },
    // TPC-H Q3 shape: 3-way join, per-order revenue, deterministic top 10.
    Cert("q3_shipping",
      """SELECT o_orderkey, o_orderdate,
        |       round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
        |FROM customer
        |JOIN orders ON c_custkey = o_custkey
        |JOIN lineitem ON o_orderkey = l_orderkey
        |WHERE c_mktsegment = 'BUILDING'
        |GROUP BY 1, 2
        |ORDER BY revenue DESC, o_orderkey
        |LIMIT 10""".stripMargin) { (s, dir) =>
      val c = Tables.customer(s, dir).filter(col("c_mktsegment") === "BUILDING")
      val o = Tables.orders(s, dir)
      val l = Tables.lineitem(s, dir)
      c.join(o, col("c_custkey") === col("o_custkey"))
        .join(l, col("o_orderkey") === col("l_orderkey"))
        .groupBy(col("o_orderkey"), col("o_orderdate"))
        .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2).as("revenue"))
        .orderBy(col("revenue").desc, col("o_orderkey"))
        .limit(10)
    },
    // TPC-H Q5 shape: 6-way join through the star schema, revenue per
    // nation within one region; dims broadcast, facts shuffle on keys.
    Cert("q5_region_revenue",
      """SELECT n_name,
        |       round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
        |FROM customer
        |JOIN orders ON c_custkey = o_custkey
        |JOIN lineitem ON o_orderkey = l_orderkey
        |JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
        |JOIN nation ON s_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |WHERE r_name = 'ASIA'
        |GROUP BY 1""".stripMargin) { (s, dir) =>
      val c = Tables.customer(s, dir)
      val o = Tables.orders(s, dir)
      val l = Tables.lineitem(s, dir)
      val su = Tables.supplier(s, dir)
      val n = Tables.nation(s, dir)
      val r = Tables.region(s, dir).filter(col("r_name") === "ASIA")
      c.join(o, col("c_custkey") === col("o_custkey"))
        .join(l, col("o_orderkey") === col("l_orderkey"))
        .join(su, col("l_suppkey") === col("s_suppkey") &&
          col("c_nationkey") === col("s_nationkey"))
        .join(broadcast(n), col("s_nationkey") === col("n_nationkey"))
        .join(broadcast(r), col("n_regionkey") === col("r_regionkey"))
        .groupBy(col("n_name"))
        .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2).as("revenue"))
    },
    // Running total per supplier over a total order (unique tiebreak) —
    // quantities are small integers in doubles, so running sums are
    // exact and oracle-identical.
    Cert("window_running_total",
      """SELECT l_suppkey, l_orderkey, l_linenumber,
        |       sum(l_quantity) OVER (
        |         PARTITION BY l_suppkey
        |         ORDER BY l_shipdate, l_orderkey, l_linenumber
        |         ROWS UNBOUNDED PRECEDING) AS running_qty
        |FROM lineitem WHERE l_suppkey < 50""".stripMargin) { (s, dir) =>
      val w = Window.partitionBy(col("l_suppkey"))
        .orderBy(col("l_shipdate"), col("l_orderkey"), col("l_linenumber"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      Tables.lineitem(s, dir)
        .filter(col("l_suppkey") < 50)
        .select(col("l_suppkey"), col("l_orderkey"), col("l_linenumber"),
          sum(col("l_quantity")).over(w).as("running_qty"))
    },
    // Rank-within-group top-N: top 3 parts by revenue per brand
    // (rounded before ranking; row_number with id tiebreak).
    Cert("window_rank_topn",
      """SELECT p_brand, p_partkey, revenue, rnk FROM (
        |  SELECT p_brand, p_partkey, revenue,
        |         row_number() OVER (PARTITION BY p_brand
        |           ORDER BY revenue DESC, p_partkey) AS rnk
        |  FROM (
        |    SELECT p_brand, p_partkey,
        |           round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
        |    FROM lineitem JOIN part ON l_partkey = p_partkey
        |    GROUP BY 1, 2))
        |WHERE rnk <= 3""".stripMargin) { (s, dir) =>
      val rev = Tables.lineitem(s, dir)
        .join(broadcast(Tables.part(s, dir)), col("l_partkey") === col("p_partkey"))
        .groupBy(col("p_brand"), col("p_partkey"))
        .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2).as("revenue"))
      val w = Window.partitionBy(col("p_brand"))
        .orderBy(col("revenue").desc, col("p_partkey"))
      rev.withColumn("rnk", row_number().over(w))
        .filter(col("rnk") <= 3)
        .select(col("p_brand"), col("p_partkey"), col("revenue"), col("rnk"))
    },
    // Rollup: subtotals + grand total in one pass.
    Cert("agg_rollup",
      """SELECT l_returnflag, l_linestatus, count(*) AS n,
        |       round(sum(l_quantity), 2) AS sum_qty
        |FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)""".stripMargin) { (s, dir) =>
      Tables.lineitem(s, dir)
        .rollup(col("l_returnflag"), col("l_linestatus"))
        .agg(count(lit(1)).as("n"), round(sum("l_quantity"), 2).as("sum_qty"))
    },
    // Exact multi-column distinct counts (expand + two-phase agg).
    Cert("distinct_counts",
      """SELECT count(DISTINCT l_partkey) AS d_parts,
        |       count(DISTINCT l_suppkey) AS d_supps,
        |       count(DISTINCT l_orderkey) AS d_orders
        |FROM lineitem""".stripMargin) { (s, dir) =>
      Tables.lineitem(s, dir).agg(
        countDistinct(col("l_partkey")).as("d_parts"),
        countDistinct(col("l_suppkey")).as("d_supps"),
        countDistinct(col("l_orderkey")).as("d_orders"))
    },
    // Anti join: customers with no finished ('F') order, per nation
    // (left_anti keeps the probe side only — no row widening; the filter
    // on orders is pushed to its scan).
    Cert("anti_join_customers",
      """SELECT c_nationkey, count(*) AS n_customers
        |FROM customer
        |WHERE c_custkey NOT IN (
        |  SELECT o_custkey FROM orders WHERE o_orderstatus = 'F')
        |GROUP BY 1""".stripMargin) { (s, dir) =>
      Tables.customer(s, dir)
        .join(Tables.orders(s, dir).filter(col("o_orderstatus") === "F"),
          col("c_custkey") === col("o_custkey"), "left_anti")
        .groupBy(col("c_nationkey"))
        .agg(count(lit(1)).as("n_customers"))
    },
    // Semi join: nations having at least one BUILDING-segment customer.
    Cert("semi_join_nations",
      """SELECT n_nationkey, n_name FROM nation
        |WHERE n_nationkey IN (
        |  SELECT c_nationkey FROM customer WHERE c_mktsegment = 'BUILDING')""".stripMargin) { (s, dir) =>
      Tables.nation(s, dir)
        .join(Tables.customer(s, dir).filter(col("c_mktsegment") === "BUILDING"),
          col("n_nationkey") === col("c_nationkey"), "left_semi")
        .select(col("n_nationkey"), col("n_name"))
    },
    // Exact interpolated quantiles (integer-valued doubles → exact
    // interpolation on both engines).
    Cert("stats_quantiles",
      """SELECT quantile_cont(l_quantity, 0.25) AS q1,
        |       quantile_cont(l_quantity, 0.5) AS median,
        |       quantile_cont(l_quantity, 0.75) AS q3
        |FROM lineitem""".stripMargin) { (s, dir) =>
      Tables.lineitem(s, dir).agg(
        expr("percentile(l_quantity, 0.25)").as("q1"),
        expr("percentile(l_quantity, 0.5)").as("median"),
        expr("percentile(l_quantity, 0.75)").as("q3"))
    },
    // Sketch quantiles (the 100 TB path — exact percentile buffers every
    // value; approx_percentile is a fixed-size mergeable sketch). Same
    // oracle pattern as approx_distinct_users: the exact values are
    // oracle-computed, and the sketch must land within 1% of each
    // (rank error 1/accuracy = 1e-4 of the corpus ≈ a few ranks, far
    // inside the 1% value bound on this distribution — ~5σ headroom).
    Cert("stats_quantiles_approx",
      """SELECT floor(quantile_cont(l_extendedprice, 0.5) * 100 + 0.5) / 100 AS p50_exact,
        |       floor(quantile_cont(l_extendedprice, 0.99) * 100 + 0.5) / 100 AS p99_exact,
        |       true AS p50_within, true AS p99_within
        |FROM lineitem""".stripMargin) { (s, dir) =>
      val li = Tables.lineitem(s, dir)
      def ok(p: Double) =
        (abs(expr(s"approx_percentile(l_extendedprice, $p, 10000)") -
          expr(s"percentile(l_extendedprice, $p)")) /
          expr(s"percentile(l_extendedprice, $p)") <= 0.01)
      li.agg(
        (floor(expr("percentile(l_extendedprice, 0.5)") * 100 + 0.5) / 100).as("p50_exact"),
        (floor(expr("percentile(l_extendedprice, 0.99)") * 100 + 0.5) / 100).as("p99_exact"),
        ok(0.5).as("p50_within"),
        ok(0.99).as("p99_within"))
    },
    // Mergeable distinct sketches (Apache DataSketches HLL): build one
    // sketch PER PARTITION GROUP, then union-merge the sketch column to
    // a global estimate — the re-aggregable form a 100 TB warehouse
    // stores alongside each partition so "distinct across any subset"
    // never rescans data (approx_count_distinct's HLL++ buffer is not
    // exposed as a column; hll_sketch_agg/hll_union_agg is). The oracle
    // pins the exact global count and a 5%-tolerance verdict on the
    // sketch estimate (lgK 14 → rse ~0.8%, ~6σ headroom).
    Cert("hll_union_estimate",
      HllOracle) { (s, dir) =>
      val perPart = Tables.lineitem(s, dir)
        .groupBy(col("l_returnflag"))
        .agg(expr("hll_sketch_agg(l_orderkey, 14)").as("sk"))
      perPart.agg(
        expr("hll_sketch_estimate(hll_union_agg(sk))").as("est"),
        count(lit(1)).as("n_groups"))
        .crossJoin(Tables.lineitem(s, dir)
          .agg(countDistinct(col("l_orderkey")).as("n_exact")))
        .select(col("n_exact"), col("n_groups"),
          (abs(col("est") - col("n_exact")).cast("double") / col("n_exact") <= 0.05)
            .as("within_tolerance"))
    },
    // Sketch PERSISTENCE roundtrip: the 100 TB pattern
    // is not one-plan build+merge but store-then-reaggregate — each
    // partition's sketch column lands in the warehouse next to its data,
    // and "distinct across any subset" re-aggregates sketches from disk
    // without rescanning rows. This query writes the per-group sketches
    // to parquet (binary column), reads them back, union-merges the
    // READ-BACK sketches, and pins the estimate within 5% of the
    // oracle-exact count — certifying the sketch survives the
    // serialize/deserialize cycle, not just the in-plan merge
    // (hll_union_estimate covers that).
    Cert.scratch("hll_sketch_roundtrip",
      // same exact pins as hll_union_estimate: the roundtrip through the
      // parquet sink must not change the merged estimate's verdict
      HllOracle) { (s, dir, out) =>
      val perPart = Tables.lineitem(s, dir)
        .groupBy(col("l_returnflag"))
        .agg(expr("hll_sketch_agg(l_orderkey, 14)").as("sk"))
      perPart.write.mode("overwrite").parquet(s"$out/sketches")
      s.read.parquet(s"$out/sketches").agg(
        expr("hll_sketch_estimate(hll_union_agg(sk))").as("est"),
        count(lit(1)).as("n_groups"))
        .crossJoin(Tables.lineitem(s, dir)
          .agg(countDistinct(col("l_orderkey")).as("n_exact")))
        .select(col("n_exact"), col("n_groups"),
          (abs(col("est") - col("n_exact")).cast("double") / col("n_exact") <= 0.05)
            .as("within_tolerance"))
    },
    // Grouped sketch quantiles: per-event-type p95 value, sketch verdict
    // per group (every group's verdict must hold — the row set is the
    // per-group exacts + verdicts). The verdict checks the RANK of the
    // element the sketch returned, directly and scale-aware: the
    // element's tie-rank interval [n_lt+1, n_le] must intersect the
    // target rank 0.95·n ± max(⌈n/accuracy⌉, 2) — exactly the sketch's
    // ε·n rank guarantee (ε = 1/accuracy), with a 2-rank floor so tiny
    // groups survive engine rank-convention (±1) differences. Unlike a
    // fixed p90..p99 bracket this TIGHTENS as groups grow (at n = 10⁶
    // the tolerance is ±100 ranks, i.e. ±0.01%); unlike a relative-error
    // value bound it can't flip on a wide neighbor gap at small n. All
    // integer arithmetic (ranks ×100), nothing to drift. A percentile()
    // bracket at data-dependent fractions isn't expressible — Spark
    // requires foldable percentage args — hence the rank formulation.
    Cert("quantiles_by_group",
      """SELECT event_type,
        |       floor(quantile_cont(value, 0.95) * 100 + 0.5) / 100 AS p95_exact,
        |       true AS p95_within
        |FROM events GROUP BY 1""".stripMargin) { (s, dir) =>
      val ev = Tables.events(s, dir).select(col("event_type"), col("value"))
      val ap = ev.groupBy(col("event_type"))
        .agg(expr("approx_percentile(value, 0.95, 10000)").as("ap"),
          (floor(expr("percentile(value, 0.95)") * 100 + 0.5) / 100).as("p95_exact"))
      ev.join(broadcast(ap), Seq("event_type"))
        .groupBy(col("event_type"))
        .agg(first(col("p95_exact")).as("p95_exact"),
          count(lit(1)).as("n"),
          sum(when(col("value") < col("ap"), 1L).otherwise(0L)).as("n_lt"),
          sum(when(col("value") <= col("ap"), 1L).otherwise(0L)).as("n_le"))
        .withColumn("err", greatest(expr("(n + 9999) DIV 10000"), lit(2L)))
        .select(col("event_type"), col("p95_exact"),
          ((col("n_lt") + 1) * 100 <= col("n") * 95 + col("err") * 100 &&
            col("n_le") * 100 >= col("n") * 95 - col("err") * 100)
            .as("p95_within"))
    },
    // JSON extraction from the events props column.
    Cert("json_extract_events",
      """SELECT event_type,
        |       CAST(sum(CAST(props ->> '$.k' AS BIGINT)) AS BIGINT) AS sum_k,
        |       count(*) AS n
        |FROM events GROUP BY 1""".stripMargin) { (s, dir) =>
      Tables.events(s, dir)
        .groupBy(col("event_type"))
        .agg(sum(get_json_object(col("props"), "$.k").cast("long")).as("sum_k"),
          count(lit(1)).as("n"))
    },
    // Calendar rollup: orders per month (date_trunc alignment matches
    // DuckDB).
    Cert("orders_by_month",
      """SELECT date_trunc('month', o_orderdate) AS month,
        |       count(*) AS n_orders,
        |       round(sum(o_totalprice), 2) AS total
        |FROM orders GROUP BY 1""".stripMargin) { (s, dir) =>
      Tables.orders(s, dir)
        .groupBy(date_trunc("month", col("o_orderdate")).as("month"))
        .agg(count(lit(1)).as("n_orders"),
          round(sum("o_totalprice"), 2).as("total"))
    },
    // SQL set operation: customers having both open and finished orders
    // (INTERSECT distinct semantics).
    Cert("set_ops_orders",
      """SELECT o_custkey FROM orders WHERE o_orderstatus = 'O'
        |INTERSECT
        |SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'""".stripMargin) { (s, dir) =>
      val o = Tables.orders(s, dir)
      o.filter(col("o_orderstatus") === "O").select(col("o_custkey"))
        .intersect(o.filter(col("o_orderstatus") === "F").select(col("o_custkey")))
    },
    // Cube: all grouping-set combinations in one pass.
    Cert("agg_cube",
      """SELECT o_orderstatus, o_orderpriority, count(*) AS n,
        |       round(sum(o_totalprice), 2) AS total
        |FROM orders GROUP BY CUBE (o_orderstatus, o_orderpriority)""".stripMargin) { (s, dir) =>
      Tables.orders(s, dir)
        .cube(col("o_orderstatus"), col("o_orderpriority"))
        .agg(count(lit(1)).as("n"), round(sum("o_totalprice"), 2).as("total"))
    },
    // Regex extraction (X4 adjacent): pull the numeric field out of the
    // raw JSON text with a capture group.
    Cert("regexp_extract_events",
      """SELECT event_id,
        |       coalesce(regexp_extract(props, '"k":\s*(\d+)', 1), '') AS k_str
        |FROM events""".stripMargin) { (s, dir) =>
      Tables.events(s, dir)
        .select(col("event_id"),
          regexp_extract(col("props"), "\"k\":\\s*(\\d+)", 1).as("k_str"))
    },
    // Salted skew join: identical results to the plain join (that IS the
    // oracle), with hot fact keys spread over 8 reducers.
    Cert("skew_salted_join",
      """SELECT p_brand, count(*) AS n,
        |       round(sum(l_extendedprice), 2) AS total
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |GROUP BY 1""".stripMargin) { (s, dir) =>
      val li = Tables.lineitem(s, dir).select("l_partkey", "l_extendedprice")
      val p = Tables.part(s, dir).select("p_partkey", "p_brand")
        .withColumnRenamed("p_partkey", "l_partkey")
      graft.core.Skew.saltedJoin(li, p, "l_partkey", nSalts = 8)
        .groupBy(col("p_brand"))
        .agg(count(lit(1)).as("n"), round(sum("l_extendedprice"), 2).as("total"))
    },
    // The SQL front door: temp views + a correlated EXISTS subquery
    // (Catalyst decorrelates it into a semi join).
    Cert("sql_correlated_exists",
      """SELECT c_nationkey, count(*) AS n_with_open
        |FROM customer c
        |WHERE EXISTS (
        |  SELECT 1 FROM orders o
        |  WHERE o.o_custkey = c.c_custkey AND o.o_orderstatus = 'O'
        |    AND o.o_totalprice > 100000)
        |GROUP BY c_nationkey""".stripMargin) { (s, dir) =>
      Tables.customer(s, dir).createOrReplaceTempView("v_customer")
      Tables.orders(s, dir).createOrReplaceTempView("v_orders")
      s.sql(
        """SELECT c_nationkey, count(*) AS n_with_open
          |FROM v_customer c
          |WHERE EXISTS (
          |  SELECT 1 FROM v_orders o
          |  WHERE o.o_custkey = c.c_custkey AND o.o_orderstatus = 'O'
          |    AND o.o_totalprice > 100000)
          |GROUP BY c_nationkey""".stripMargin)
    },
    // Wide→long unpivot (melt) — the reshape between a reporting table
    // and a metric-per-row feed, via Dataset.unpivot (constant-folded
    // expand, no shuffle beyond the feeding aggregate). Values are
    // rounded BEFORE melting so the long format carries oracle-exact
    // doubles.
    Cert("unpivot_metrics",
      """WITH w AS (
        |  SELECT l_returnflag,
        |         round(sum(l_quantity), 2) AS sum_qty,
        |         round(sum(l_extendedprice), 2) AS sum_base,
        |         round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc
        |  FROM lineitem GROUP BY 1)
        |SELECT l_returnflag, 'sum_qty' AS metric, sum_qty AS val FROM w
        |UNION ALL
        |SELECT l_returnflag, 'sum_base', sum_base FROM w
        |UNION ALL
        |SELECT l_returnflag, 'sum_disc', sum_disc FROM w""".stripMargin) { (s, dir) =>
      Tables.lineitem(s, dir).groupBy("l_returnflag")
        .agg(round(sum("l_quantity"), 2).as("sum_qty"),
          round(sum("l_extendedprice"), 2).as("sum_base"),
          round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2)
            .as("sum_disc"))
        .unpivot(Array(col("l_returnflag")),
          Array(col("sum_qty"), col("sum_base"), col("sum_disc")),
          "metric", "val")
    },
    // RECURSIVE CTE — iterative SQL executed by the engine's own
    // recursion operator (Spark 4.1 plans it as UnionLoop; DuckDB
    // iterates natively): every customer walks the implicit binary
    // tree n → ⌊n/2⌋ to the root, and the query folds the walk into a
    // depth histogram. The recursion is |customers| chains advanced in
    // PARALLEL one level per iteration — ⌈log₂ max key⌉ rounds of
    // distributed map work, the same iterate-to-fixpoint shape as the
    // engine's pointer-jumping connected components, but expressed in
    // pure SQL and oracle-certified verbatim. Integer halving is
    // spelled CAST(floor(cur / 2)) so both engines do identical
    // arithmetic (bare / is float division in DuckDB, integer division
    // in Spark).
    Cert("sql_recursive_tree", recursiveTreeSql("customer")) { (s, dir) =>
      Tables.customer(s, dir).createOrReplaceTempView("rcte_customer")
      val df = s.sql(recursiveTreeSql("rcte_customer"))
      require(df.queryExecution.optimizedPlan.toString.contains("UnionLoop") ||
        df.queryExecution.analyzed.toString.contains("CTERelation"),
        "recursive CTE did not plan as the engine's recursion operator")
      df
    },
    // LATERAL correlated subquery with ORDER BY … LIMIT — the other
    // natural per-group top-k SQL spelling (the first is the window
    // rank of window_rank_topn). Catalyst DECORRELATES it into
    // WindowGroupLimit + a broadcast join: per-partition rank
    // pushdown, no nested loop, no global sort — the plan a 100 TB
    // top-k needs, reached from the lateral spelling automatically.
    // The require pins that decorrelation (a regression to a
    // correlated nested loop would execute per-customer subqueries).
    Cert("sql_lateral_topk", lateralTopkSql("customer", "orders")) { (s, dir) =>
      Tables.customer(s, dir).createOrReplaceTempView("lat_customer")
      Tables.orders(s, dir).createOrReplaceTempView("lat_orders")
      val df = s.sql(lateralTopkSql("lat_customer", "lat_orders"))
      val plan = df.queryExecution.explainString(FormattedMode)
      require(plan.contains("WindowGroupLimit"),
        s"lateral top-k did not decorrelate to WindowGroupLimit:\n$plan")
      require(!plan.contains("BroadcastNestedLoopJoin") &&
              !plan.contains("CartesianProduct"),
        s"lateral top-k fell back to a nested loop:\n$plan")
      df
    },
    // TPC-H Q6 shape: tight filter + single agg — the predicate-pushdown
    // showcase (all three filters reach the parquet scan).
    Cert("q6_forecast_revenue",
      """SELECT round(sum(l_extendedprice * l_discount), 2) AS revenue
        |FROM lineitem
        |WHERE l_discount BETWEEN 0.05 AND 0.07 AND l_quantity < 24""".stripMargin) { (s, dir) =>
      Tables.lineitem(s, dir)
        .filter(col("l_discount").between(0.05, 0.07) && col("l_quantity") < 24)
        .agg(round(sum(col("l_extendedprice") * col("l_discount")), 2).as("revenue"))
    },
    // TPC-H Q18 shape: group-filter on an aggregate (HAVING), then join
    // the survivors back to their order/customer rows.
    Cert("q18_large_orders",
      """SELECT o_orderkey, c_name,
        |       round(o_totalprice, 2) AS o_totalprice, sum_qty
        |FROM (SELECT l_orderkey, round(sum(l_quantity), 2) AS sum_qty
        |      FROM lineitem GROUP BY 1 HAVING sum_qty > 140)
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey""".stripMargin) { (s, dir) =>
      val big = Tables.lineitem(s, dir)
        .groupBy(col("l_orderkey"))
        .agg(round(sum("l_quantity"), 2).as("sum_qty"))
        .filter(col("sum_qty") > 140)
      big.join(Tables.orders(s, dir), col("l_orderkey") === col("o_orderkey"))
        .join(Tables.customer(s, dir), col("o_custkey") === col("c_custkey"))
        .select(col("o_orderkey"), col("c_name"),
          round(col("o_totalprice"), 2).as("o_totalprice"), col("sum_qty"))
    },
    // Pivot: one row per priority, one count column per order status.
    Cert("pivot_status_by_priority",
      """SELECT o_orderpriority,
        |       count(*) FILTER (WHERE o_orderstatus = 'O') AS n_open,
        |       count(*) FILTER (WHERE o_orderstatus = 'F') AS n_finished,
        |       count(*) FILTER (WHERE o_orderstatus = 'P') AS n_pending
        |FROM orders GROUP BY 1""".stripMargin) { (s, dir) =>
      Tables.orders(s, dir)
        .groupBy(col("o_orderpriority"))
        .pivot("o_orderstatus", Seq("O", "F", "P"))
        .agg(count(lit(1)))
        .select(col("o_orderpriority"),
          coalesce(col("O"), lit(0L)).as("n_open"),
          coalesce(col("F"), lit(0L)).as("n_finished"),
          coalesce(col("P"), lit(0L)).as("n_pending"))
    },
    // GROUPING SETS: status-only and priority-only subtotals in one pass
    // (disjoint from rollup/cube, which are also covered).
    Cert("grouping_sets_orders",
      """SELECT o_orderstatus, o_orderpriority, count(*) AS n,
        |       round(sum(o_totalprice), 2) AS total
        |FROM orders
        |GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority))""".stripMargin) { (s, dir) =>
      Tables.orders(s, dir).createOrReplaceTempView("v_gs_orders")
      s.sql(
        """SELECT o_orderstatus, o_orderpriority, count(*) AS n,
          |       round(sum(o_totalprice), 2) AS total
          |FROM v_gs_orders
          |GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority))""".stripMargin)
    },
    // arg-min/arg-max: richest and poorest customer per nation
    // (max_by/min_by — Hive's named_struct trick, native in Spark).
    Cert("minmax_by_nation",
      """SELECT c_nationkey,
        |       arg_max(c_name, c_acctbal) AS richest,
        |       arg_min(c_name, c_acctbal) AS poorest,
        |       round(max(c_acctbal), 2) AS max_bal
        |FROM customer GROUP BY 1""".stripMargin) { (s, dir) =>
      Tables.customer(s, dir)
        .groupBy(col("c_nationkey"))
        .agg(
          max_by(col("c_name"), col("c_acctbal")).as("richest"),
          min_by(col("c_name"), col("c_acctbal")).as("poorest"),
          round(max(col("c_acctbal")), 2).as("max_bal"))
    },
    // Analytic lead/lag: inter-event gap per user in seconds (first event
    // of each user has no predecessor and is dropped).
    Cert("lead_lag_deltas",
      """SELECT user_id, event_id,
        |       round(epoch(ts - prev_ts), 3) AS gap_s
        |FROM (SELECT user_id, event_id, ts,
        |             lag(ts) OVER (PARTITION BY user_id
        |                           ORDER BY ts, event_id) AS prev_ts
        |      FROM events)
        |WHERE prev_ts IS NOT NULL""".stripMargin) { (s, dir) =>
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      Tables.events(s, dir)
        .withColumn("prev_ts", lag(col("ts"), 1).over(w))
        .filter(col("prev_ts").isNotNull)
        .select(col("user_id"), col("event_id"),
          round((unix_micros(col("ts")) - unix_micros(col("prev_ts"))) / 1e6, 3)
            .as("gap_s"))
    },
    // ISO weekday distribution of orders (calendar functions beyond
    // date_trunc).
    Cert("orders_weekday",
      """SELECT isodow(o_orderdate) AS isodow, count(*) AS n,
        |       round(avg(o_totalprice), 2) AS avg_price
        |FROM orders GROUP BY 1""".stripMargin) { (s, dir) =>
      Tables.orders(s, dir)
        .groupBy((weekday(col("o_orderdate")) + 1).as("isodow"))
        .agg(count(lit(1)).as("n"), round(avg("o_totalprice"), 2).as("avg_price"))
    },
    // HLL sketch: approx_count_distinct vs exact — the oracle pins the
    // exact count and asserts the sketch landed within 5% (the sketch
    // value itself is engine-internal, like the reference's stats-served
    // counts).
    Cert("approx_distinct_users",
      """SELECT count(DISTINCT user_id) AS n_exact, true AS within_tolerance
        |FROM events""".stripMargin) { (s, dir) =>
      // rsd 0.02 against a 10% acceptance bound: ~5 sigma of headroom,
      // so the boolean is stable at every SF (the default rsd 0.05 vs a
      // 5% bound is a coin flip by construction — it failed at sf0.1)
      Tables.events(s, dir).agg(
        countDistinct(col("user_id")).as("n_exact"),
        (abs(approx_count_distinct(col("user_id"), 0.02) - countDistinct(col("user_id")))
          .cast("double") / countDistinct(col("user_id")) <= 0.10).as("within_tolerance"))
    },
    // Distribution analytics: quartile bucket + percent_rank/cume_dist
    // per priority class.
    Cert("window_ntile",
      """SELECT o_orderkey, o_orderpriority,
        |       ntile(4) OVER w AS quartile,
        |       round(percent_rank() OVER w, 6) AS pct_rank,
        |       round(cume_dist() OVER w, 6) AS cume
        |FROM orders
        |WINDOW w AS (PARTITION BY o_orderpriority
        |             ORDER BY o_totalprice, o_orderkey)""".stripMargin) { (s, dir) =>
      val w = Window.partitionBy(col("o_orderpriority"))
        .orderBy(col("o_totalprice"), col("o_orderkey"))
      Tables.orders(s, dir).select(col("o_orderkey"), col("o_orderpriority"),
        ntile(4).over(w).as("quartile"),
        round(percent_rank().over(w), 6).as("pct_rank"),
        round(cume_dist().over(w), 6).as("cume"))
    },
    // T1–T7 string-transform chain on a count-record report line, the
    // reference's sed pipeline as codegen'd column ops
    // (verizon_automation_script.sh:114,164-182).
    Cert("transforms_report",
      """SELECT 'lineitem,' || CAST(count(*) AS VARCHAR) ||
        |       ',l_returnflag=''' || l_returnflag || '''' AS report_line
        |FROM lineitem GROUP BY l_returnflag""".stripMargin) { (s, dir) =>
      val counts = Tables.lineitem(s, dir)
        .groupBy(col("l_returnflag")).agg(count(lit(1)).as("cnt"))
      val line = concat(lit("lineitem:"), col("cnt").cast("string"), lit(":"),
        Transforms.kv(lit("l_returnflag"), Transforms.quoteWrap(col("l_returnflag"))),
        lit("\r"))
      counts.select(
        Transforms.colonsToComma(Transforms.stripCr(line)).as("report_line"))
    },
    // Ordered set aggregation rendered to a string (array outputs break
    // the comparison harness; array_join keeps it checkable).
    Cert("nation_top_customers",
      """SELECT c_nationkey,
        |       array_to_string(list_sort(list(DISTINCT c_name))[1:5], ',') AS top5
        |FROM customer GROUP BY 1""".stripMargin) { (s, dir) =>
      Tables.customer(s, dir).groupBy(col("c_nationkey"))
        .agg(array_join(slice(array_sort(collect_set(col("c_name"))), 1, 5), ",")
          .as("top5"))
    },
    // Multiset difference: order-placing customers minus (with
    // multiplicity) those with finished orders.
    Cert("except_all_orders",
      """SELECT o_custkey FROM orders WHERE o_orderstatus = 'O'
        |EXCEPT ALL
        |SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'""".stripMargin) { (s, dir) =>
      val o = Tables.orders(s, dir)
      o.filter(col("o_orderstatus") === "O").select(col("o_custkey"))
        .exceptAll(o.filter(col("o_orderstatus") === "F").select(col("o_custkey")))
    },
    // Second-moment statistics (sample variants match DuckDB's n-1
    // definitions; skewness/kurtosis are excluded — DuckDB bias-corrects
    // them, Spark does not).
    Cert("stats_moments",
      """SELECT round(stddev_samp(l_quantity), 4) AS sd_qty,
        |       round(var_samp(l_quantity), 4) AS var_qty,
        |       round(corr(l_quantity, l_extendedprice), 6) AS corr_qty_price,
        |       round(covar_samp(l_quantity, l_extendedprice), 4) AS covar_qty_price
        |FROM lineitem""".stripMargin) { (s, dir) =>
      Tables.lineitem(s, dir).agg(
        round(stddev_samp(col("l_quantity")), 4).as("sd_qty"),
        round(var_samp(col("l_quantity")), 4).as("var_qty"),
        round(corr(col("l_quantity"), col("l_extendedprice")), 6).as("corr_qty_price"),
        round(covar_samp(col("l_quantity"), col("l_extendedprice")), 4).as("covar_qty_price"))
    },
    // RANGE window frame: per supplier, quantity shipped in the TRAILING
    // 30 DAYS of each line's ship date — a time-range frame, not a row
    // count (peers at the same timestamp are all included, which is what
    // makes it deterministic under ties). Spark expresses the interval
    // bound as epoch-second offsets over an ordered-by-seconds window;
    // DuckDB natively as RANGE BETWEEN INTERVAL 30 DAYS PRECEDING.
    Cert("window_range_frame",
      """SELECT l_orderkey, l_linenumber, l_suppkey,
        |       sum(l_quantity) OVER (
        |         PARTITION BY l_suppkey ORDER BY l_shipdate
        |         RANGE BETWEEN INTERVAL 30 DAYS PRECEDING AND CURRENT ROW)
        |         AS qty_30d
        |FROM lineitem WHERE l_suppkey < 20""".stripMargin) { (s, dir) =>
      val w = Window.partitionBy(col("l_suppkey"))
        // shipdate is TIMESTAMP_NTZ; the session timezone is pinned UTC,
        // so the cast to (tz-aware) timestamp → epoch seconds is exact
        .orderBy(unix_seconds(col("l_shipdate").cast("timestamp")))
        .rangeBetween(-30L * 86400, 0)
      Tables.lineitem(s, dir)
        .filter(col("l_suppkey") < 20)
        .select(col("l_orderkey"), col("l_linenumber"), col("l_suppkey"),
          sum(col("l_quantity")).over(w).as("qty_30d"))
    },
    // SQL front door: correlated SCALAR subquery — Catalyst decorrelates
    // the per-order average into an aggregate + join (a different
    // decorrelation path than sql_correlated_exists' semi join). The
    // compared average is exact: integer-valued quantities sum exactly
    // in doubles and IEEE division is identical across engines.
    Cert("sql_correlated_scalar",
      """SELECT l_returnflag, count(*) AS n_above
        |FROM lineitem l1
        |WHERE l_quantity > (SELECT avg(l_quantity) FROM lineitem l2
        |                    WHERE l2.l_orderkey = l1.l_orderkey)
        |GROUP BY l_returnflag""".stripMargin) { (s, dir) =>
      Tables.lineitem(s, dir).createOrReplaceTempView("v_lineitem")
      s.sql(
        """SELECT l_returnflag, count(*) AS n_above
          |FROM v_lineitem l1
          |WHERE l_quantity > (SELECT avg(l_quantity) FROM v_lineitem l2
          |                    WHERE l2.l_orderkey = l1.l_orderkey)
          |GROUP BY l_returnflag""".stripMargin)
    },
    // Month-over-month deltas on an AGGREGATE: counts per month plus the
    // previous month's count via lag. The window is a single partition
    // BY DESIGN and safely so — it runs over the post-aggregation
    // relation (one row per month, bounded by the calendar, not the
    // data volume), the one case where an unpartitioned window is the
    // right plan at any scale.
    Cert("orders_mom",
      """SELECT month, n_orders,
        |       lag(n_orders, 1) OVER (ORDER BY month) AS prev_n
        |FROM (SELECT date_trunc('month', o_orderdate) AS month,
        |             count(*) AS n_orders
        |      FROM orders GROUP BY 1)""".stripMargin) { (s, dir) =>
      val monthly = Tables.orders(s, dir)
        .groupBy(date_trunc("month", col("o_orderdate")).as("month"))
        .agg(count(lit(1)).as("n_orders"))
      monthly.select(col("month"), col("n_orders"),
        lag(col("n_orders"), 1).over(Window.orderBy(col("month"))).as("prev_n"))
    },
    // Fixed-width histogram on EXACT cents ($50k buckets): bucket index
    // is integer arithmetic on round(price*100), so bucket edges cannot
    // drift between engines the way raw double division could. One
    // partial-aggregated shuffle.
    Cert("orders_histogram",
      """SELECT CAST(round(o_totalprice * 100) AS BIGINT) // 5000000 AS bucket,
        |       count(*) AS n_orders, round(sum(o_totalprice), 2) AS sum_price
        |FROM orders GROUP BY 1""".stripMargin) { (s, dir) =>
      Tables.orders(s, dir)
        .groupBy(expr("CAST(round(o_totalprice * 100) AS BIGINT) DIV 5000000").as("bucket"))
        .agg(count(lit(1)).as("n_orders"),
          round(sum(col("o_totalprice")), 2).as("sum_price"))
    },
    // Count-Min heavy-hitter frequencies — the SECOND mergeable-sketch
    // family (HLL answers "how many distinct", CMS answers "how often
    // is key k"), in the store-then-reaggregate shape of
    // hll_sketch_roundtrip: per-event-type shard sketches persisted to
    // parquet, union-merged FROM DISK, and `require`d BYTE-IDENTICAL to
    // the one-pass whole-table sketch — CMS cells are sums, so the
    // merge tree provably cannot change the sketch, which is exactly
    // why per-shard/per-day sketches can answer corpus-wide frequency
    // questions without rescanning 100 TB. Certified output: per probed
    // user, the exact count plus the two CMS guarantees as verdict
    // columns (estimate never undercounts; overcount within eps·N).
    Cert.scratch("freq_cms_heavy_hitters",
      // the CMS guarantees as the certified verdict: never undercounts
      // (always true by construction), overcount within eps*N (holds with
      // confidence 0.999 per probe; deterministic for a fixed fixture +
      // seed — at these key cardinalities the sketch is collision-free)
      cmsProbeOracle) { (s, dir, out) =>
      val ev = Tables.events(s, dir)
      ev.groupBy(col("event_type"))
        .agg(CmsSketch.buildLong(col("user_id")).as("sk"))
        .write.mode("overwrite").parquet(s"$out/sketches")
      val merged = s.read.parquet(s"$out/sketches")
        .agg(CmsSketch.union(col("sk")).as("sk"))
        .head().getAs[Array[Byte]](0)
      requireMatchesOnePass(ev, merged,
        "union of per-type shard sketches")
      cmsProbeVerdict(s, ev, merged)
    },
    // The SAME sketch family maintained FROM THE STREAM: each ingest
    // micro-batch folds to one CMS shard inside foreachBatch (the batch
    // is a plain frame there — no streaming state, no watermark; the
    // reduction's mergeability is what makes statelessness sufficient)
    // and lands replay-idempotent under its batch_id partition. The
    // per-trigger shard log — four sketch rows, bytes not data — is
    // then union-merged OFFLINE and `require`d byte-identical to the
    // one-pass corpus sketch: a consumer answers corpus-wide frequency
    // questions from the summary log alone, never rescanning the
    // ingested 100 TB. Certified under the same probe oracle as the
    // batch twin.
    Cert.scratch("freq_cms_stream_ingest",
      // the stream-maintained shard log must answer identically
      cmsProbeOracle, stream = true) { (s, dir, out) =>
      val ev = Tables.events(s, dir)
      val src = StreamRun.chunkedSource(s, ev,
        s"$out/src-${dir.replaceAll("[^A-Za-z0-9.]", "_")}", 4)
      val (shards, stats) = StreamRun.runAvailableNow(src, s"$out/run",
        StreamRun.Sink.PerBatch((b, _) =>
          b.agg(CmsSketch.buildLong(col("user_id")).as("sk"))))
      require(stats.count(_.inputRows > 0) == 4,
        s"the backlog must stream as 4 data triggers: $stats")
      require(shards.count() == 4L, "one shard sketch per data trigger")
      val merged = shards.agg(CmsSketch.union(col("sk")).as("sk"))
        .head().getAs[Array[Byte]](0)
      requireMatchesOnePass(ev, merged,
        "the merged per-trigger shard sketches")
      cmsProbeVerdict(s, ev, merged)
    }
  )
}
