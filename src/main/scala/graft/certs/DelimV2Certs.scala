package graft
package certs

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.FormattedMode
import org.apache.spark.sql.functions._

import graft.core.Tables
import graft.sources.v2.{DelimLog, DelimScanMetrics}

import CertSupport._

/** Table-format certifications for graft-delim v2: pushdown and
  * pruning, partitioning, snapshots and time travel, schema evolution,
  * merge-on-read deletes, compaction, manifests, stats and the streaming
  * source/sink.
  */
object DelimV2Certs {

  private val EventTypeSummaryOracle =
    """SELECT event_type, count(*) AS n_events,
      |       round(sum("value"), 2) AS sum_value,
      |       count(DISTINCT user_id) AS n_users
      |FROM events
      |GROUP BY 1""".stripMargin

  private val OrderStatusSummaryOracle =
    """SELECT o_orderstatus, count(*) AS n_rows,
      |       round(sum(o_totalprice), 2) AS revenue,
      |       CAST(sum(o_orderkey) AS BIGINT) AS key_sig
      |FROM orders GROUP BY 1""".stripMargin

  val all: Seq[Cert] = Seq(
    // The DataSource V2 front door (S4 grown into a connector tier —
    // sources/v2/DelimV2): orders serialized as pipe-delimited text,
    // read back through the graft-delim connector with a TYPED schema,
    // a selective predicate, and a 3-column projection. The requires
    // pin what makes this a SOURCE and not a parse-in-a-projection:
    // both WHERE conjuncts are absorbed into the scan (evaluated on
    // parsed fields before a row object exists — no residual Filter),
    // and the read schema is pruned to the three surviving columns, so
    // fields 1, 2, and the filter-only status column never leave the
    // reader (status is parsed for the pushed predicate only). At
    // 100 TB this is the difference between shipping every field of
    // every row into the query and shipping three fields of the
    // selective subset; splitBytes=64 KiB forces multi-split reads at
    // every SF, so the exactly-once newline realignment is certified
    // by the oracle row count, not just the unit suite.
    Cert.scratch("delim_v2_pushdown",
      // the text roundtrip is lossless (keys/status exact; double via
      // shortest-roundtrip toString; date via ISO), so the oracle
      // recomputes straight from the parquet table
      """SELECT o_orderpriority, count(*) AS n_orders,
        |       round(sum(o_totalprice), 2) AS revenue,
        |       min(CAST(o_orderdate AS DATE)) AS first_date
        |FROM orders
        |WHERE o_orderstatus = 'F' AND o_totalprice > 150000.0
        |GROUP BY 1""".stripMargin) { (s, dir, out) =>
      Tables.orders(s, dir)
        .select(concat_ws("|", col("o_orderkey"), col("o_custkey"),
          col("o_orderstatus"), col("o_totalprice"),
          col("o_orderdate").cast("date"), col("o_orderpriority")).as("line"))
        .write.mode("overwrite").text(s"$out/orders")
      val df = s.read.format("graft-delim")
        .schema("o_orderkey BIGINT, o_custkey BIGINT, o_orderstatus STRING, " +
          "o_totalprice DOUBLE, o_orderdate DATE, o_orderpriority STRING")
        .option("splitBytes", (64 * 1024).toString)
        .load(s"$out/orders")
        .filter(col("o_orderstatus") === "F" && col("o_totalprice") > 150000.0)
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n_orders"),
          round(sum("o_totalprice"), 2).as("revenue"),
          min("o_orderdate").as("first_date"))
      val plan = df.queryExecution.explainString(FormattedMode)
      require(plan.contains("GraftDelim"), s"graft-delim scan missing:\n$plan")
      require(plan.contains("EqualTo(o_orderstatus,F)") &&
        plan.contains("GreaterThan(o_totalprice,150000.0)"),
        s"WHERE conjuncts not absorbed into the scan:\n$plan")
      // ReadSchema types appear as name:type — the filter-only status
      // column and the untouched key columns must not be read out
      require(plan.contains("o_totalprice:double") &&
        !plan.contains("o_orderstatus:string") &&
        !plan.contains("o_orderkey:bigint") && !plan.contains("o_custkey:bigint"),
        s"scan not pruned to the surviving columns:\n$plan")
      df
    },
    // Runtime (DPP-style) filtering on the V2 connector, in the
    // certified surface: lineitem as delimited text joined to the
    // part dimension under a selective predicate. The require pins
    // `dynamicpruningexpression` ON the graft-delim scan — Spark's
    // PartitionPruning hands the broadcast build side's key set to the
    // scan as an `In` filter at execution, and the reader applies it
    // at ROW level during the parse (a delimited file has no partition
    // directories, but a pruned fact row is never typed, materialized,
    // or shuffled toward the join). At 100 TB this is the classic
    // star-join shape: the 2%-selective dim predicate prunes the fact
    // scan itself, not just the join output. Correctness does not
    // depend on the runtime filter (the join re-checks the key), which
    // is exactly why row-level partial application is legal — the
    // oracle certifies the join, the require certifies the pruning.
    Cert.scratch("delim_v2_runtime_prune",
      """SELECT p_brand, count(*) AS n_items,
        |       round(sum(l_extendedprice), 2) AS revenue
        |FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
        |WHERE p.p_size <= 3
        |GROUP BY 1""".stripMargin) { (s, dir, out) =>
      Tables.lineitem(s, dir)
        .select(concat_ws("|", col("l_partkey"), col("l_quantity"),
          col("l_extendedprice")).as("line"))
        .write.mode("overwrite").text(s"$out/lineitem")
      val fact = s.read.format("graft-delim")
        .schema("l_partkey BIGINT, l_quantity DOUBLE, l_extendedprice DOUBLE")
        .load(s"$out/lineitem")
      val dim = Tables.part(s, dir)
        .filter(col("p_size") <= 3)
        .select(col("p_partkey"), col("p_brand"))
      val df = fact.join(broadcast(dim), col("l_partkey") === col("p_partkey"))
        .groupBy("p_brand")
        .agg(count(lit(1)).as("n_items"),
          round(sum("l_extendedprice"), 2).as("revenue"))
      val plan = df.queryExecution.executedPlan.toString
      require(plan.contains("GraftDelim"), s"graft-delim scan missing:\n$plan")
      require(plan.contains("dynamicpruningexpression"),
        s"runtime filter not planned onto the delim scan:\n$plan")
      df
    },
    // The connector's WRITE path in the certified surface: high-value
    // orders written through the graft-delim SINK (the V2 staged-commit
    // protocol — tasks write to _staging_<queryId>/, the commit
    // coordinator picks one winner per partition, the driver's job
    // commit clears the old generation and moves exactly the committed
    // files), read back through the connector's typed scan, aggregated.
    // The oracle recomputes from parquet, so a duplicated, dropped, or
    // torn line anywhere in the sink→source loop hash-mismatches; the
    // bench's double-run additionally exercises the TRUNCATE path
    // (second overwrite must fully replace the first generation).
    Cert.scratch("delim_v2_sink_roundtrip",
      """SELECT year(CAST(o_orderdate AS DATE)) AS order_year,
        |       count(*) AS n_orders,
        |       round(sum(o_totalprice), 2) AS revenue,
        |       count(DISTINCT o_custkey) AS n_custs
        |FROM orders
        |WHERE o_totalprice > 200000.0
        |GROUP BY 1""".stripMargin) { (s, dir, out) =>
      Tables.orders(s, dir)
        .filter(col("o_totalprice") > 200000.0)
        .select(col("o_orderkey"), col("o_custkey"),
          col("o_orderdate").cast("date").as("o_orderdate"),
          col("o_totalprice"))
        .write.format("graft-delim").mode("overwrite").save(s"$out/orders")
      s.read.format("graft-delim")
        .schema("o_orderkey BIGINT, o_custkey BIGINT, o_orderdate DATE, o_totalprice DOUBLE")
        .load(s"$out/orders")
        .groupBy(year(col("o_orderdate")).as("order_year"))
        .agg(count(lit(1)).as("n_orders"),
          round(sum("o_totalprice"), 2).as("revenue"),
          countDistinct("o_custkey").as("n_custs"))
    },
    // Pushed COUNT(*) on the connector (A1's delim analog of the
    // parquet footer-only count): each split counts its owned lines by
    // scanning bytes for '\n' — no parse, no String, no per-line row —
    // and Spark sums the per-split partials. The require pins the
    // pushdown; declining paths (filters present, GROUP BY) are
    // spec-covered.
    Cert.scratch("delim_v2_count_pushdown", "SELECT count(*) AS n_rows FROM orders") { (s, dir, out) =>
      Tables.orders(s, dir)
        .select(concat_ws("|", col("o_orderkey"), col("o_orderstatus")).as("line"))
        .write.mode("overwrite").text(s"$out/orders")
      val df = s.read.format("graft-delim")
        .schema("o_orderkey BIGINT, o_orderstatus STRING")
        .option("splitBytes", (64 * 1024).toString)
        .load(s"$out/orders")
        .groupBy()
        .agg(count(lit(1)).as("n_rows"))
      val plan = df.queryExecution.executedPlan.toString
      require(plan.contains("PushedAggregation: [count(*)]"),
        s"COUNT(*) not pushed into the delim scan:\n$plan")
      df
    },
    // STATIC partition pruning on the connector: orders serialized as
    // an o_orderstatus=X partition tree (one coalesced file per status
    // — deterministic file counts for the require), read back with the
    // status as a PARTITION column (it is not in the file bytes at
    // all). The pushed status predicate prunes at FILE level: the
    // require pins (a) the partition-column marker and the absorbed
    // predicate in the plan, and (b) via the scan metrics of a
    // pushed-limit probe, that the two non-matching directories
    // contributed ZERO splits. At 100 TB this is the reference's own
    // abstraction — `WHERE dt='2024-01-01'` opens one directory, not
    // the table — now native to the delimited-text tier.
    Cert.scratch("delim_v2_partition_prune",
      // the partition tree is a lossless re-layout of orders (status in
      // the directory name instead of the line), so the oracle recomputes
      // straight from the parquet table
      """SELECT year(CAST(o_orderdate AS DATE)) AS order_year,
        |       count(*) AS n_orders,
        |       round(sum(o_totalprice), 2) AS revenue
        |FROM orders
        |WHERE o_orderstatus = 'F' AND o_totalprice > 150000.0
        |GROUP BY 1""".stripMargin) { (s, dir, out) =>
      val fact = s"$out/orders-${dir.replaceAll("[^A-Za-z0-9.]", "_")}"
      val o = Tables.orders(s, dir)
      for (st <- Seq("F", "O", "P")) {
        o.filter(col("o_orderstatus") === st)
          .select(concat_ws("|", col("o_orderkey"), col("o_custkey"),
            col("o_totalprice"), col("o_orderdate").cast("date")).as("line"))
          .coalesce(1)
          .write.mode("overwrite").text(s"$fact/o_orderstatus=$st")
      }
      def reader = s.read.format("graft-delim")
        .schema("o_orderkey BIGINT, o_custkey BIGINT, o_totalprice DOUBLE, " +
          "o_orderdate DATE, o_orderstatus STRING")
        .load(fact)
      val df = reader
        .filter(col("o_orderstatus") === "F" && col("o_totalprice") > 150000.0)
        .groupBy(year(col("o_orderdate")).as("order_year"))
        .agg(count(lit(1)).as("n_orders"),
          round(sum("o_totalprice"), 2).as("revenue"))
      val plan = df.queryExecution.explainString(FormattedMode)
      require(plan.contains("PartitionColumns: [o_orderstatus]"),
        s"status not recognized as a partition column:\n$plan")
      require(plan.contains("EqualTo(o_orderstatus,F)"),
        s"partition predicate not absorbed into the scan:\n$plan")
      // file-level proof: a pushed-limit probe with the same partition
      // predicate (reads ~1 line) — its scan reports files listed and
      // files kept after pruning as SQL metrics
      val probe = reader.filter(col("o_orderstatus") === "F").limit(1)
      probe.collect()
      val DelimScanMetrics(_, disc, kept, _, _, _) = DelimScanMetrics.one(probe)
      require(disc == 3 && kept == 1,
        s"pruned directories must contribute ZERO splits: " +
          s"discovered=$disc kept=$kept")
      df
    },
    // RUNTIME (DPP) partition pruning on the connector, FILE level:
    // events as an event_type=X partition tree joined to a parquet dim
    // under a selective predicate — Spark plugs the broadcast build
    // side's key set into the scan at execution, the splits are
    // RE-PLANNED under it, and non-matching partition directories
    // contribute zero splits (`delim_v2_runtime_prune` can
    // only drop their rows after reading the bytes). The require pins
    // `dynamicpruningexpression` in the plan AND the executed scan's
    // files-kept metric; correctness does not depend on the pruning
    // (the join re-checks the key), which is why file-level
    // application is legal — the oracle certifies the join, the
    // requires certify the pruning.
    Cert.scratch("delim_v2_partition_dpp",
      """SELECT event_type, count(*) AS n_events,
        |       round(sum("value"), 2) AS sum_value,
        |       count(DISTINCT user_id) AS n_users
        |FROM events
        |WHERE event_type = 'purchase'
        |GROUP BY 1""".stripMargin) { (s, dir, out) =>
      val fact = s"$out/events-${dir.replaceAll("[^A-Za-z0-9.]", "_")}"
      val ev = Tables.events(s, dir)
      val types = ev.select("event_type").distinct()
        .collect().map(_.getString(0)).sorted // bounded: event-type domain
      for (t <- types) {
        ev.filter(col("event_type") === t)
          .select(concat_ws("|", col("event_id"), col("user_id"),
            col("value")).as("line"))
          .coalesce(1)
          .write.mode("overwrite").text(s"$fact/event_type=$t")
      }
      import s.implicits._
      types.map(t => (t, if (t == "purchase") "hot" else "cold"))
        .toSeq.toDF("event_type", "grp")
        .write.mode("overwrite").parquet(s"$out/dim")
      val factDf = s.read.format("graft-delim")
        .schema("event_id BIGINT, user_id BIGINT, value DOUBLE, event_type STRING")
        .load(fact)
      val dim = s.read.parquet(s"$out/dim").filter(col("grp") === "hot")
      val df = factDf.join(broadcast(dim), "event_type")
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_events"),
          round(sum("value"), 2).as("sum_value"),
          countDistinct(col("user_id")).as("n_users"))
      val plan = df.queryExecution.executedPlan.toString
      require(plan.contains("dynamicpruningexpression"),
        s"runtime filter not planned onto the delim scan:\n$plan")
      df.collect()
      val DelimScanMetrics(_, disc, kept, _, _, _) = DelimScanMetrics.one(df)
      require(disc == types.length && kept == 1,
        s"runtime In must prune non-matching partition FILES: " +
          s"discovered=$disc kept=$kept")
      df
    },
    // The connector's PARTITIONED WRITE path closing the loop with its
    // partition-discovery read path: events written through the
    // graft-delim SINK with option("partitionBy", "event_type") — the
    // staged-commit protocol now renames each task's per-value staged
    // files into k=v subdirectories, partition values live in the
    // directory names (not the line bytes), and truncate-on-overwrite
    // replaces whole partition subtrees. Read back through the same
    // connector with the partition column typed from the directory,
    // statically pruned to one partition (zero splits from the other
    // four — require'd via the scan's files-kept metric), aggregated
    // under the parquet oracle: a row routed to the wrong directory, a
    // partition value mangled in formatting, or a leaked staged file
    // anywhere hash-mismatches.
    Cert.scratch("delim_v2_partition_write",
      """SELECT event_type, count(*) AS n_events,
        |       round(sum("value"), 2) AS sum_value,
        |       count(DISTINCT user_id) AS n_users
        |FROM events
        |WHERE event_type = 'click'
        |GROUP BY 1""".stripMargin) { (s, dir, out) =>
      val fact = s"$out/events"
      Tables.events(s, dir)
        .select(col("event_id"), col("user_id"), col("value"), col("event_type"))
        .write.format("graft-delim").option("partitionBy", "event_type")
        .mode("overwrite").save(fact)
      def reader = s.read.format("graft-delim")
        .schema("event_id BIGINT, user_id BIGINT, value DOUBLE, event_type STRING")
        .load(fact)
      val df = reader
        .filter(col("event_type") === "click")
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_events"),
          round(sum("value"), 2).as("sum_value"),
          countDistinct(col("user_id")).as("n_users"))
      val plan = df.queryExecution.explainString(FormattedMode)
      require(plan.contains("PartitionColumns: [event_type]"),
        s"written layout not discovered as partitioned:\n$plan")
      val probe = reader.filter(col("event_type") === "click").limit(1)
      probe.collect()
      val DelimScanMetrics(_, disc, kept, _, _, _) = DelimScanMetrics.one(probe)
      require(kept < disc,
        s"pruned partitions must contribute zero splits: ($disc, $kept)")
      df
    },
    // DYNAMIC partition overwrite on the connector — the reference's
    // `INSERT OVERWRITE TABLE ... PARTITION (dt)` nightly-load shape
    // (verizon_automation_script.sh's partitioned tables): generation 1
    // lands all event_type partitions; generation 2 OVERWRITES ONLY the
    // 'error' partition with a corrected feed (value + 1.00 — exact in
    // doubles), touching nothing else. The job commit derives the
    // replacement set from the commit messages' own k=v subdirs, so an
    // untouched partition keeps its files byte-for-byte. The oracle
    // recomputes the post-load state from parquet: a wiped untouched
    // partition, a survived stale 'error' row, or a double-applied
    // correction all hash-mismatch.
    Cert.scratch("delim_v2_partition_overwrite",
      """SELECT event_type, count(*) AS n_events,
        |       round(sum(CASE WHEN event_type = 'error'
        |                      THEN "value" + 1.0 ELSE "value" END), 2)
        |         AS sum_value
        |FROM events
        |GROUP BY 1""".stripMargin) { (s, dir, out) =>
      val fact = s"$out/events"
      val ev = Tables.events(s, dir)
        .select(col("event_id"), col("user_id"), col("value"), col("event_type"))
      ev.write.format("graft-delim").option("partitionBy", "event_type")
        .mode("overwrite").save(fact)
      ev.filter(col("event_type") === "error")
        .withColumn("value", col("value") + 1.0)
        .write.format("graft-delim").option("partitionBy", "event_type")
        .option("overwriteMode", "dynamic")
        .mode("overwrite").save(fact)
      s.read.format("graft-delim")
        .schema("event_id BIGINT, user_id BIGINT, value DOUBLE, event_type STRING")
        .load(fact)
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_events"),
          round(sum("value"), 2).as("sum_value"))
    },
    // The connector as a CATALOG table — the reference's EXTERNAL-TABLE
    // model in pure SQL (`CREATE EXTERNAL TABLE ... PARTITIONED BY ...
    // LOCATION ...` is how every reference table exists): CREATE TABLE
    // USING graft-delim over the partition-written layout, then a
    // plain SQL aggregate with a partition predicate — no DataFrame
    // reader call anywhere. The table-level OPTIONS (path, partitionBy)
    // resolve through the catalog hop into the scan, the partition
    // predicate still prunes at FILE level (require'd via the executed
    // scan's files-kept metric),
    // and the pushed filter marker survives. DROP IF EXISTS first: the
    // bench constructs every query twice in one session.
    Cert.scratch("delim_v2_sql_table",
      """SELECT event_type, count(*) AS n_events,
        |       round(sum("value"), 2) AS sum_value
        |FROM events
        |WHERE event_type IN ('click', 'purchase')
        |GROUP BY event_type""".stripMargin) { (s, dir, out) =>
      val fact = s"$out/events"
      Tables.events(s, dir)
        .select(col("event_id"), col("user_id"), col("value"), col("event_type"))
        .write.format("graft-delim").option("partitionBy", "event_type")
        .mode("overwrite").save(fact)
      s.sql("DROP TABLE IF EXISTS graft_delim_events_t")
      s.sql(s"""CREATE TABLE graft_delim_events_t
        (event_id BIGINT, user_id BIGINT, value DOUBLE, event_type STRING)
        USING `graft-delim` OPTIONS (path '$fact', partitionBy 'event_type')""")
      val df = s.sql(
        """SELECT event_type, count(*) AS n_events,
          |       round(sum(value), 2) AS sum_value
          |FROM graft_delim_events_t
          |WHERE event_type IN ('click', 'purchase')
          |GROUP BY event_type""".stripMargin)
      val plan = df.queryExecution.executedPlan.toString
      require(plan.contains("PartitionColumns: [event_type]"),
        s"catalog hop lost the partition layout:\n$plan")
      require(plan.contains("In(event_type"),
        s"partition predicate not absorbed through the catalog:\n$plan")
      df.collect()
      val DelimScanMetrics(_, disc, kept, _, _, _) = DelimScanMetrics.one(df)
      require(kept < disc && kept > 0,
        s"partition predicate must prune files through SQL: ($disc, $kept)")
      df
    },
    // The connector as a STREAMING SINK — the landing-directory
    // PRODUCER role (every reference table is such a directory; this
    // is how one gets fed): the events stream written per trigger
    // through writeStream.format("graft-delim") into a k=v tree.
    // Each epoch commits like a small batch job onto DETERMINISTIC
    // (epoch, partition)-keyed file names, so a replayed epoch
    // overwrites its own files instead of duplicating rows —
    // at-least-once execution, exactly-once landed bytes. The oracle
    // recomputes from parquet: a dropped epoch, a duplicated replay,
    // or a row routed to the wrong partition directory all
    // hash-mismatch; the require pins a real multi-trigger run.
    Cert.scratch("delim_v2_stream_sink",
      EventTypeSummaryOracle, stream = true) { (s, dir, out) =>
      val sink = s"$out/landed"
      graft.core.Scratch.rmTree(sink)
      graft.core.Scratch.rmTree(s"$out/ckpt")
      val src = eventsChunks(s, dir)
      val q = src
        .select(col("event_id"), col("user_id"), col("value"), col("event_type"))
        .writeStream.format("graft-delim")
        .option("path", sink)
        .option("partitionBy", "event_type")
        .option("checkpointLocation", s"$out/ckpt")
        .outputMode("append")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      val dataBatches = q.recentProgress.count(_.numInputRows > 0)
      require(dataBatches >= 4,
        s"expected a real multi-trigger landing run, got $dataBatches")
      s.read.format("graft-delim")
        .schema("event_id BIGINT, user_id BIGINT, value DOUBLE, event_type STRING")
        .load(sink)
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_events"),
          round(sum("value"), 2).as("sum_value"),
          countDistinct(col("user_id")).as("n_users"))
    },
    // Pushed TopN on the connector (the scan-level feature after
    // limit): `ORDER BY price DESC LIMIT 10` keeps a 10-row bounded
    // heap PER SPLIT — k·splits rows enter the final merge instead of
    // the corpus entering a full-width sort. The requires pin the
    // pushed-TopN marker, the absorbed filter it composes with, and
    // the no-sort plan: TakeOrderedAndProject over the scan, no Sort
    // node anywhere. splitBytes=64 KiB forces multi-split heaps at
    // every SF; the unique-key tie-break keeps the answer
    // deterministic for the hash compare.
    Cert.scratch("delim_v2_topn_pushdown",
      """SELECT o_orderkey, o_custkey, o_totalprice
        |FROM orders
        |WHERE o_orderpriority = '1-URGENT'
        |ORDER BY o_totalprice DESC, o_orderkey
        |LIMIT 10""".stripMargin) { (s, dir, out) =>
      Tables.orders(s, dir)
        .select(concat_ws("|", col("o_orderkey"), col("o_custkey"),
          col("o_totalprice"), col("o_orderpriority")).as("line"))
        .write.mode("overwrite").text(s"$out/orders")
      val df = s.read.format("graft-delim")
        .schema("o_orderkey BIGINT, o_custkey BIGINT, o_totalprice DOUBLE, " +
          "o_orderpriority STRING")
        .option("splitBytes", (64 * 1024).toString)
        .load(s"$out/orders")
        .filter(col("o_orderpriority") === "1-URGENT")
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
        .limit(10)
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
      val plan = df.queryExecution.executedPlan.toString
      require(plan.contains("PushedTopN"),
        s"TopN not pushed into the delim scan:\n$plan")
      require(plan.contains("EqualTo(o_orderpriority,1-URGENT)"),
        s"filter must compose with the pushed TopN:\n$plan")
      require(plan.contains("TakeOrderedAndProject") && !plan.contains("+- Sort"),
        s"final merge must be a TakeOrdered, not a full sort:\n$plan")
      df
    },
    // documents.text pushed through sink → scan with adversarial
    // content appended: an embedded delimiter, a doubled quote, and a
    // newline per row. The aggregate fingerprints the full round-trip
    // (count, char mass, md5-derived content signature) against the
    // SAME derivation computed directly over the parquet by DuckDB —
    // any framing slip, quote-escape slip, or lost byte breaks the sig.
    Cert.scratch("delim_v2_quoted",
      """SELECT count(*) AS n_rows,
        |       CAST(sum(length(t)) AS BIGINT) AS total_chars,
        |       CAST(sum(('0x' || substr(md5(t), 1, 8))::UBIGINT) AS BIGINT)
        |         AS content_sig,
        |       CAST(sum(n_chars) AS BIGINT) AS sum_n_chars
        |FROM (SELECT text || '|tail "q"' || chr(10) || 'line2' AS t, n_chars
        |      FROM documents)""".stripMargin) { (s, dir, out) =>
      s.read.parquet(s"$dir/documents.parquet")
        .select(col("doc_id"),
          concat(col("text"), lit("|tail \"q\"\nline2")).as("t"),
          col("n_chars"))
        .write.format("graft-delim").mode("overwrite").save(s"$out/docs")
      // NO multiLine option: the committed manifest flags the quoted
      // newlines, so the reader auto-engages whole-file framing — the
      // writer knew, readers should not have to
      s.read.format("graft-delim")
        .schema("doc_id BIGINT, t STRING, n_chars BIGINT")
        .load(s"$out/docs")
        .agg(
          count(lit(1)).as("n_rows"),
          sum(length(col("t"))).as("total_chars"),
          sum(conv(substring(md5(col("t")), 1, 8), 16, 10).cast("long"))
            .as("content_sig"),
          sum(col("n_chars")).as("sum_n_chars"))
    },
    // Manifest-committed snapshot reads: a graft-delim commit swaps an
    // atomic `_manifest` listing the generation's files; readers list
    // FROM it (one small-file read, no namespace crawl — the 100 TB
    // metadata win) and therefore see exactly one committed generation.
    // Certified by overwriting generation 1 with generation 2 and
    // planting an uncommitted stray file: the aggregate must equal the
    // generation-2-only oracle — any stray byte or stale-generation
    // file breaks count, revenue, or the key signature.
    Cert.scratch("delim_v2_snapshot_read",
      // generation 2 only: the overwritten generation 1 and the stray
      // uncommitted file must leave no trace in any column
      """SELECT count(*) AS n_rows,
        |       round(sum(o_totalprice), 2) AS revenue,
        |       CAST(sum(o_orderkey) AS BIGINT) AS key_sig
        |FROM orders
        |WHERE o_totalprice > 100000.0""".stripMargin) { (s, dir, out) =>
      val orders = Tables.orders(s, dir)
      orders.filter(col("o_totalprice") <= 100000.0)
        .select(col("o_orderkey"), col("o_totalprice"))
        .write.format("graft-delim").mode("overwrite").save(s"$out/t")
      orders.filter(col("o_totalprice") > 100000.0)
        .select(col("o_orderkey"), col("o_totalprice"))
        .write.format("graft-delim").mode("overwrite").save(s"$out/t")
      java.nio.file.Files.write(
        java.nio.file.Paths.get(s"$out/t/stray.txt"),
        "999999999|123456.78\n".getBytes(java.nio.charset.StandardCharsets.UTF_8))
      s.read.format("graft-delim")
        .schema("o_orderkey BIGINT, o_totalprice DOUBLE")
        .load(s"$out/t")
        .agg(count(lit(1)).as("n_rows"),
          round(sum(col("o_totalprice")), 2).as("revenue"),
          sum(col("o_orderkey")).as("key_sig"))
    },
    // SupportsReportPartitioning: a `clustered` read reports the k=v
    // layout as KeyGroupedPartitioning, so the groupBy on the layout
    // key plans WITHOUT an Exchange — the co-located-aggregation win
    // core.Bucketing proves for parquet, now native to the connector
    // (at 100 TB this deletes the full-table shuffle that normally
    // precedes every per-partition rollup). The require pins the
    // shuffle-free plan; the oracle recomputes the rollup from parquet.
    Cert.scratch("delim_v2_clustered_agg",
      EventTypeSummaryOracle) { (s, dir, out) =>
      Tables.events(s, dir)
        .select(col("event_id"), col("user_id"), col("value"), col("event_type"))
        .write.format("graft-delim").option("partitionBy", "event_type")
        .mode("overwrite").save(s"$out/t")
      val df = s.read.format("graft-delim")
        .schema("event_id BIGINT, user_id BIGINT, value DOUBLE, event_type STRING")
        .option("clustered", "true")
        .load(s"$out/t")
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_events"),
          round(sum(col("value")), 2).as("sum_value"),
          countDistinct(col("user_id")).as("n_users"))
      val plan = df.queryExecution.executedPlan.toString
      require(!plan.contains("Exchange"),
        s"clustered read did not elide the aggregation shuffle:\n$plan")
      df
    },
    // Partition DDL front door (the reference's S1 surface,
    // verizon_automation_script.sh:104,138): `SHOW PARTITIONS` against a
    // `CREATE TABLE ... USING graft-delim PARTITIONED BY ... LOCATION`
    // table through GraftCatalog's native v2 partition management —
    // the partition list is read from the k=v directory tree, the
    // oracle recomputes it as the distinct partition values of the
    // parquet source. ADD/DROP PARTITION are spec-certified
    // (GraftCatalogSpec) including the DROP manifest swap.
    Cert.scratch("delim_v2_show_partitions",
      """SELECT DISTINCT 'event_type=' || event_type AS partition
        |FROM events""".stripMargin) { (s, dir, out) =>
      Tables.events(s, dir)
        .select(col("event_id"), col("user_id"), col("value"), col("event_type"))
        .write.format("graft-delim").option("partitionBy", "event_type")
        .mode("overwrite").save(s"$out/t")
      s.sql("DROP TABLE IF EXISTS graft_cat.default.show_parts_events")
      s.sql(s"""CREATE TABLE graft_cat.default.show_parts_events
        (event_id BIGINT, user_id BIGINT, value DOUBLE, event_type STRING)
        USING `graft-delim` PARTITIONED BY (event_type) LOCATION '$out/t'""")
      s.sql("SHOW PARTITIONS graft_cat.default.show_parts_events")
    },
    // CTAS through the catalog: CREATE TABLE ... USING graft-delim
    // PARTITIONED BY ... AS SELECT — Spark's v2 CTAS (createTable +
    // the connector's distribution-ordered partitioned write + the
    // manifest commit) in one statement, then a pure-SQL aggregate
    // over the created table vs the parquet oracle. REPLACE TABLE AS
    // SELECT is spec-certified (GraftCatalogSpec; non-atomic in this
    // catalog — drop-then-create — while individual writes stay
    // manifest-atomic).
    Cert.scratch("delim_v2_ctas",
      """SELECT event_type, count(*) AS n_events,
        |       round(sum("value"), 2) AS sum_value,
        |       count(DISTINCT user_id) AS n_users
        |FROM events
        |GROUP BY event_type""".stripMargin) { (s, dir, out) =>
      Tables.events(s, dir).createOrReplaceTempView("ctas16_events")
      s.sql("DROP TABLE IF EXISTS graft_cat.default.ctas16_t")
      // CTAS is CREATE + APPEND-write: clear the location (a previous
      // run at another SF would otherwise stay live in the manifest)
      graft.core.Scratch.rmTree(s"$out/t")
      s.sql(s"""CREATE TABLE graft_cat.default.ctas16_t
        USING `graft-delim` PARTITIONED BY (event_type) LOCATION '$out/t'
        AS SELECT event_id, user_id, value, event_type FROM ctas16_events""")
      s.sql("""SELECT event_type, count(*) AS n_events,
        |       round(sum(value), 2) AS sum_value,
        |       count(DISTINCT user_id) AS n_users
        |FROM graft_cat.default.ctas16_t
        |GROUP BY event_type""".stripMargin)
    },
    // TIME TRAVEL over the retention window: generation 1 is
    // overwritten by generation 2, yet `versionAsOf 1` still plans
    // exactly the old snapshot (its manifest and files are retained by
    // the `retainVersions=2` policy) while the default read sees only
    // generation 2. The oracle recomputes both generations' aggregates
    // from the parquet source — any leakage between generations breaks
    // a row count, a revenue sum, or a key signature.
    Cert.scratch("delim_v2_time_travel",
      """SELECT 'v1' AS gen, count(*) AS n_rows,
        |       round(sum(o_totalprice), 2) AS revenue,
        |       CAST(sum(o_orderkey) AS BIGINT) AS key_sig
        |FROM orders WHERE o_totalprice <= 100000.0
        |UNION ALL
        |SELECT 'current', count(*), round(sum(o_totalprice), 2),
        |       CAST(sum(o_orderkey) AS BIGINT)
        |FROM orders WHERE o_totalprice > 100000.0""".stripMargin) { (s, dir, out) =>
      // deterministic generation numbers across harness runs: the
      // table starts from scratch so gen 1/2 are exactly the two writes
      graft.core.Scratch.rmTree(s"$out/t")
      val orders = Tables.orders(s, dir)
        .select(col("o_orderkey"), col("o_totalprice"))
      orders.filter(col("o_totalprice") <= 100000.0)
        .write.format("graft-delim").option("retainVersions", "2")
        .mode("overwrite").save(s"$out/t")
      orders.filter(col("o_totalprice") > 100000.0)
        .write.format("graft-delim").mode("overwrite").save(s"$out/t")
      def snap(tag: String, opts: Map[String, String]): DataFrame = {
        var r = s.read.format("graft-delim")
          .schema("o_orderkey BIGINT, o_totalprice DOUBLE")
        opts.foreach { case (k, v) => r = r.option(k, v) }
        r.load(s"$out/t").agg(
          count(lit(1)).as("n_rows"),
          round(sum(col("o_totalprice")), 2).as("revenue"),
          sum(col("o_orderkey")).as("key_sig"))
          .select(lit(tag).as("gen"), col("n_rows"), col("revenue"),
            col("key_sig"))
      }
      snap("v1", Map("versionAsOf" -> "1"))
        .unionByName(snap("current", Map.empty))
    },
    // SCHEMA EVOLUTION across manifest generations: generation 1
    // writes (c_custkey, c_name); generation 2 appends a WIDER schema
    // (+ c_acctbal) with its columns REORDERED — the reader reconciles
    // both through each generation's recorded writer schema, so gen-1
    // rows read the added column as null and gen-2's reordered fields
    // land by name. The oracle derives the same union from parquet
    // (CASE-ing the added column to null for the gen-1 slice).
    Cert.scratch("delim_v2_schema_evolution",
      """SELECT count(*) AS n_rows,
        |       CAST(sum(c_custkey) AS BIGINT) AS key_sig,
        |       CAST(sum(CASE WHEN c_custkey % 2 = 0 THEN 1 ELSE 0 END)
        |         AS BIGINT) AS n_null_bal,
        |       round(sum(CASE WHEN c_custkey % 2 = 1 THEN c_acctbal END), 2)
        |         AS sum_bal,
        |       CAST(sum(length(c_name)) AS BIGINT) AS name_chars
        |FROM customer""".stripMargin) { (s, dir, out) =>
      graft.core.Scratch.rmTree(s"$out/t")
      val c = Tables.customer(s, dir)
      c.filter(col("c_custkey") % 2 === 0)
        .select(col("c_custkey"), col("c_name"))
        .write.format("graft-delim").mode("overwrite").save(s"$out/t")
      c.filter(col("c_custkey") % 2 === 1)
        .select(col("c_name"), col("c_acctbal"), col("c_custkey")) // reordered
        .write.format("graft-delim").mode("append").save(s"$out/t")
      s.read.format("graft-delim")
        .schema("c_custkey BIGINT, c_name STRING, c_acctbal DOUBLE")
        .load(s"$out/t")
        .agg(
          count(lit(1)).as("n_rows"),
          sum(col("c_custkey")).as("key_sig"),
          sum(when(col("c_acctbal").isNull, 1L).otherwise(0L)).as("n_null_bal"),
          round(sum(col("c_acctbal")), 2).as("sum_bal"),
          sum(length(col("c_name"))).as("name_chars"))
    },
    // DATA SKIPPING via manifest file stats: the writer records
    // per-file min/max/null-count for every pushable column, and the
    // scan tests pushed DATA filters against them — a file whose stats
    // prove no row matches is never opened. Here orders is written
    // key-CLUSTERED (repartitionByRange + sortWithinPartitions, the
    // layout discipline that makes key-range queries cheap at 100 TB),
    // so an o_orderkey range keeps ~1 of 8 files — require'd via the
    // executed scan's files-kept metric — while the aggregate must
    // still equal the parquet-derived oracle exactly (skipping a file
    // with a matching row would break all three columns).
    Cert.scratch("delim_v2_stats_skipping",
      """SELECT count(*) AS n_orders,
        |       round(sum(o_totalprice), 2) AS revenue,
        |       CAST(sum(o_orderkey) AS BIGINT) AS key_sig
        |FROM orders
        |WHERE o_orderkey <= (SELECT max(o_orderkey) // 4 FROM orders)""".stripMargin) { (s, dir, out) =>
      val t = s"$out/t"
      Tables.orders(s, dir)
        .select(col("o_orderkey"), col("o_totalprice"), col("o_orderpriority"))
        .repartitionByRange(8, col("o_orderkey"))
        .sortWithinPartitions("o_orderkey")
        .write.format("graft-delim").mode("overwrite").save(t)
      // SF-relative cutoff (a fixed literal matches every file at the
      // smallest fixture): the bottom quarter of the key range keeps
      // ~2 of the 8 range-clustered files at every SF
      val cutoff = Tables.orders(s, dir)
        .agg(max(col("o_orderkey"))).head.getLong(0) / 4
      val df = s.read.format("graft-delim")
        .schema("o_orderkey BIGINT, o_totalprice DOUBLE, o_orderpriority STRING")
        .load(t)
        .filter(col("o_orderkey") <= cutoff)
        .agg(count(lit(1)).as("n_orders"),
          round(sum(col("o_totalprice")), 2).as("revenue"),
          sum(col("o_orderkey")).as("key_sig"))
      df.collect()
      val DelimScanMetrics(_, disc, kept, _, _, _) = DelimScanMetrics.one(df)
      require(kept < disc && kept >= 1,
        s"file stats failed to skip clustered files: discovered=$disc kept=$kept")
      df
    },
    // COMPLETE aggregate pushdown from manifest stats: MIN/MAX/COUNT
    // over a stats-covered table are answered from the per-file bounds
    // the writers recorded — the scan plans ONE precomputed row and
    // reads ZERO data bytes (require'd: 0 files kept, 1 synthetic
    // split). At 100 TB this is the difference between a metadata read
    // and a full corpus scan for the reference's daily count/extent
    // reconciliations. The oracle recomputes the same aggregates from
    // parquet.
    Cert.scratch("delim_v2_stats_agg",
      """SELECT min(o_orderkey) AS min_key, max(o_orderkey) AS max_key,
        |       count(*) AS n_rows, count(o_totalprice) AS n_price,
        |       min(o_orderpriority) AS min_prio,
        |       max(o_orderpriority) AS max_prio
        |FROM orders""".stripMargin) { (s, dir, out) =>
      val t = s"$out/t"
      Tables.orders(s, dir)
        .select(col("o_orderkey"), col("o_totalprice"), col("o_orderpriority"))
        .write.format("graft-delim").mode("overwrite").save(t)
      val df = s.read.format("graft-delim")
        .schema("o_orderkey BIGINT, o_totalprice DOUBLE, o_orderpriority STRING")
        .load(t)
        .agg(min(col("o_orderkey")).as("min_key"),
          max(col("o_orderkey")).as("max_key"),
          count(lit(1)).as("n_rows"),
          count(col("o_totalprice")).as("n_price"),
          min(col("o_orderpriority")).as("min_prio"),
          max(col("o_orderpriority")).as("max_prio"))
      val plan = df.queryExecution.executedPlan.toString
      require(plan.contains("PushedAggregation: [stats-complete]"),
        s"aggregate not answered from manifest stats:\n$plan")
      df.collect()
      val DelimScanMetrics(_, _, kept, splits, _, _) = DelimScanMetrics.one(df)
      require(kept == 0 && splits == 1,
        s"stats-complete aggregate opened data files: kept=$kept splits=$splits")
      df
    },
    // graft-delim as a STREAMING SOURCE — manifest generations are the
    // offsets (each commit = one offset increment), so a downstream
    // pipeline can readStream the reference's landing directories with
    // exactly-once progress across restarts (spec-certified; see
    // DelimStreamSourceSpec for restart/live/loop/pruning). Here three
    // batch commits land disjoint thirds of orders (gen 1..3 —
    // require'd), the stream drains them through a real
    // MicroBatchStream run, and the landed rollup must equal the
    // parquet-derived oracle — a dropped generation, a duplicated
    // replay, or a misplanned range all hash-mismatch.
    Cert.scratch("delim_v2_stream_source",
      """SELECT o_orderpriority, count(*) AS n_orders,
        |       round(sum(o_totalprice), 2) AS revenue,
        |       CAST(sum(o_orderkey) AS BIGINT) AS key_sig
        |FROM orders
        |GROUP BY 1""".stripMargin, stream = true) { (s, dir, out) =>
      graft.core.Scratch.rmTree(s"$out/t")
      graft.core.Scratch.rmTree(s"$out/landed")
      graft.core.Scratch.rmTree(s"$out/ckpt")
      val orders = Tables.orders(s, dir)
        .select(col("o_orderkey"), col("o_totalprice"), col("o_orderpriority"))
      for (slice <- 0 until 3)
        orders.filter(col("o_orderkey") % 3 === slice)
          .write.format("graft-delim").mode("append").save(s"$out/t")
      val hp = new org.apache.hadoop.fs.Path(s"$out/t")
      val fs = hp.getFileSystem(s.sessionState.newHadoopConf())
      require(graft.sources.v2.DelimLog.readManifest(fs, hp).get.gen == 3L,
        "fixture must land three generations")
      val q = s.readStream.format("graft-delim")
        .schema("o_orderkey BIGINT, o_totalprice DOUBLE, o_orderpriority STRING")
        .load(s"$out/t")
        .writeStream.format("parquet")
        .option("path", s"$out/landed")
        .option("checkpointLocation", s"$out/ckpt")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      s.read.parquet(s"$out/landed")
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n_orders"),
          round(sum(col("o_totalprice")), 2).as("revenue"),
          sum(col("o_orderkey")).as("key_sig"))
    },
    // Small-file COMPACTION (OPTIMIZE): real streaming epochs land one
    // file per (epoch, partition) — the accumulation every streaming
    // sink produces — then DelimCompact rewrites each partition's
    // files into ONE (byte-level concatenation, no parse) and swaps
    // the manifest through the claim-race-detected commit. The
    // requires pin the before (more files than partitions) and after
    // (exactly one file per partition) manifests; the aggregate over
    // the compacted table must equal the parquet-derived oracle — a
    // lost row, a duplicated file, or a partition routed wrong all
    // hash-mismatch.
    Cert.scratch("delim_v2_compact",
      // compaction is content-preserving: the oracle is the same
      // per-partition rollup the stream-sink certification uses
      EventTypeSummaryOracle, stream = true) { (s, dir, out) =>
      import graft.sources.v2.DelimCompact
      val sink = s"$out/landed"
      graft.core.Scratch.rmTree(sink)
      graft.core.Scratch.rmTree(s"$out/ckpt")
      val src = eventsChunks(s, dir)
      val q = src
        .select(col("event_id"), col("user_id"), col("value"), col("event_type"))
        .writeStream.format("graft-delim")
        .option("path", sink)
        .option("partitionBy", "event_type")
        .option("checkpointLocation", s"$out/ckpt")
        .outputMode("append")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      val hp = new org.apache.hadoop.fs.Path(sink)
      val fs = hp.getFileSystem(s.sessionState.newHadoopConf())
      def parent(rel: String): String = {
        val i = rel.lastIndexOf('/')
        if (i < 0) "" else rel.substring(0, i)
      }
      val before = DelimLog.readManifest(fs, hp).get.files
      val nParts = before.map(e => parent(e.rel)).distinct.size
      require(before.size > nParts,
        s"expected epoch-accumulated small files, got ${before.size} over " +
          s"$nParts partitions")
      DelimCompact.compact(s, sink)
      val after = DelimLog.readManifest(fs, hp).get.files
      require(after.size == nParts,
        s"OPTIMIZE must leave one file per partition: ${after.size} vs $nParts")
      s.read.format("graft-delim")
        .schema("event_id BIGINT, user_id BIGINT, value DOUBLE, event_type STRING")
        .load(sink)
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_events"),
          round(sum("value"), 2).as("sum_value"),
          countDistinct(col("user_id")).as("n_users"))
    },
    // SIZE-TARGETED compaction (OPTIMIZE ... targetFileSize): six
    // appends land six files per partition; compaction bin-packs each
    // partition's files into bins of cumulative size <= target (one
    // rewrite task per bin) instead of one unbounded file — at 100 TB
    // the one-file form makes a hot partition a single task streaming
    // terabytes, and every later compaction rewrites it all again.
    // The requires pin the exact bin layout: per partition, the file
    // count after must equal the greedy packing of the before-entries
    // (computed independently here with the same rule), and at least
    // ceil(partitionBytes/target) bins. Content oracle unchanged.
    Cert.scratch("delim_v2_compact_binned",
      """SELECT o_orderstatus, count(*) AS n_orders,
        |       round(sum(o_totalprice), 2) AS revenue,
        |       CAST(sum(o_orderkey) AS BIGINT) AS key_sig
        |FROM orders GROUP BY 1""".stripMargin) { (s, dir, out) =>
      import graft.sources.v2.DelimCompact
      val t = s"$out/t"
      graft.core.Scratch.rmTree(t)
      val orders = Tables.orders(s, dir)
        .select(col("o_orderkey"), col("o_totalprice"), col("o_orderstatus"))
      for (slice <- 0 until 6)
        orders.filter(col("o_orderkey") % 6 === slice)
          .write.format("graft-delim")
          .option("partitionBy", "o_orderstatus")
          .mode("append").save(t)
      val hp = new org.apache.hadoop.fs.Path(t)
      val fs = hp.getFileSystem(s.sessionState.newHadoopConf())
      def parent(rel: String): String = {
        val i = rel.lastIndexOf('/')
        if (i < 0) "" else rel.substring(0, i)
      }
      val before = DelimLog.readManifest(fs, hp).get.files
      val byPart = before.groupBy(e => parent(e.rel))
      require(byPart.values.forall(_.size == 6),
        s"fixture must land 6 files per partition, got " +
          byPart.view.mapValues(_.size).toMap)
      // target ~2.5x the mean file size: greedy pairs files two per
      // bin for near-uniform sizes, and the expected layout below
      // replicates compact's exact packing rule for any skew
      val target = before.map(_.len).sum * 5 / (before.size * 2)
      def greedyBins(lens: Seq[Long]): Int = {
        var bins = 0; var cur = 0L
        lens.foreach { l =>
          if (cur > 0 && cur + l > target) { bins += 1; cur = 0L }
          cur += l
        }
        if (cur > 0) bins += 1
        bins
      }
      val expected = byPart.view.mapValues(es =>
        greedyBins(es.sortBy(_.rel).map(_.len))).toMap
      DelimCompact.compact(s, t, targetFileSize = target)
      val after = DelimLog.readManifest(fs, hp).get.files
        .groupBy(e => parent(e.rel)).view.mapValues(_.size).toMap
      expected.foreach { case (p, exp) =>
        require(after.getOrElse(p, 0) == exp,
          s"partition $p: expected $exp bin-packed files, got " +
            s"${after.getOrElse(p, 0)} (target=$target)")
        val bytes = byPart(p).map(_.len).sum
        require(exp >= math.ceil(bytes.toDouble / target).toInt,
          s"partition $p: $exp bins under the ceil(bytes/target) floor")
      }
      require(after.values.sum < before.size,
        "bin-packed compaction must reduce the file count")
      s.read.format("graft-delim")
        .schema("o_orderkey BIGINT, o_totalprice DOUBLE, o_orderstatus STRING")
        .load(t)
        .groupBy(col("o_orderstatus"))
        .agg(count(lit(1)).as("n_orders"),
          round(sum(col("o_totalprice")), 2).as("revenue"),
          sum(col("o_orderkey")).as("key_sig"))
    },
    // TIMESTAMP time travel: every commit records its wall-clock in
    // the manifest header, and `timestampAsOf` (option) / `TIMESTAMP
    // AS OF` (SQL, through TableCatalog.loadTable(ident, micros))
    // resolves an instant to the NEWEST retained generation committed
    // at or before it — operators reason in wall-clock ("the table as
    // of last night's load"), not in generation numbers. Gen 1 writes
    // the low-price half, gen 2 appends the rest; reading AS OF gen
    // 1's exact commit instant must see only the first half (the >=
    // boundary), and the SQL form must agree with the option form.
    Cert.scratch("delim_v2_time_travel_ts",
      """SELECT 'v1' AS gen, count(*) AS n_rows,
        |       round(sum(o_totalprice), 2) AS revenue,
        |       CAST(sum(o_orderkey) AS BIGINT) AS key_sig
        |FROM orders WHERE o_totalprice <= 100000.0
        |UNION ALL
        |SELECT 'current', count(*),
        |       round(sum(o_totalprice), 2),
        |       CAST(sum(o_orderkey) AS BIGINT)
        |FROM orders""".stripMargin) { (s, dir, out) =>
      val t = s"$out/t"
      graft.core.Scratch.rmTree(t)
      val orders = Tables.orders(s, dir)
        .select(col("o_orderkey"), col("o_totalprice"))
      orders.filter(col("o_totalprice") <= 100000.0)
        .write.format("graft-delim").option("retainVersions", "2")
        .mode("overwrite").save(t)
      // commit times are millis: force gen 2 strictly after gen 1 so
      // "as of gen 1's instant" is unambiguous
      Thread.sleep(15L)
      orders.filter(col("o_totalprice") > 100000.0)
        .write.format("graft-delim").mode("append").save(t)
      val hp = new org.apache.hadoop.fs.Path(t)
      val fs = hp.getFileSystem(s.sessionState.newHadoopConf())
      val ts1 = DelimLog.readManifestFile(
        fs, new org.apache.hadoop.fs.Path(hp, "_manifest.v1")).get.ts
      val ts2 = DelimLog.readManifestFile(
        fs, new org.apache.hadoop.fs.Path(hp, "_manifest.v2")).get.ts
      require(ts1 > 0 && ts2 > ts1,
        s"commits must carry increasing timestamps, got $ts1 then $ts2")
      def snap(tag: String, opts: Map[String, String]): DataFrame = {
        var r = s.read.format("graft-delim")
          .schema("o_orderkey BIGINT, o_totalprice DOUBLE")
        opts.foreach { case (k, v) => r = r.option(k, v) }
        r.load(t).agg(
          count(lit(1)).as("n_rows"),
          round(sum(col("o_totalprice")), 2).as("revenue"),
          sum(col("o_orderkey")).as("key_sig"))
          .select(lit(tag).as("gen"), col("n_rows"), col("revenue"),
            col("key_sig"))
      }
      val v1Rows = snap("v1", Map("timestampAsOf" -> ts1.toString))
        .collect()(0).getLong(1)
      // SQL form through the catalog: the literal lands as micros in
      // loadTable(ident, timestamp) and must resolve identically
      s.sql("DROP TABLE IF EXISTS graft_cat.default.tt18_t")
      s.sql(s"""CREATE TABLE graft_cat.default.tt18_t
        (o_orderkey BIGINT, o_totalprice DOUBLE)
        USING `graft-delim` LOCATION '$t'""")
      val lit1 = java.time.format.DateTimeFormatter
        .ofPattern("yyyy-MM-dd HH:mm:ss.SSS")
        .withZone(java.time.ZoneOffset.UTC)
        .format(java.time.Instant.ofEpochMilli(ts1))
      val sqlV1 = s.sql(
        s"""SELECT count(*) AS n FROM graft_cat.default.tt18_t
           |TIMESTAMP AS OF TIMESTAMP'$lit1'""".stripMargin)
        .collect()(0).getLong(0)
      require(sqlV1 == v1Rows,
        s"SQL TIMESTAMP AS OF read $sqlV1 rows, option form read $v1Rows")
      snap("v1", Map("timestampAsOf" -> ts1.toString))
        .unionByName(snap("current", Map.empty))
    },
    // SQL MAINTENANCE procedures (`CALL graft_cat.system.optimize`,
    // Spark 4's connector procedure API — the Iceberg convention):
    // the reference's nightly cron loop as ONE schedulable statement.
    // Six appends land six files; the CALL bin-packs them under a
    // target size and reports (generation, files_before, files_after)
    // as its one-row result — require'd against the manifest truth —
    // and the compacted table must still hash-match the oracle.
    Cert.scratch("delim_v2_call_optimize",
      """SELECT o_orderpriority, count(*) AS n_orders,
        |       round(sum(o_totalprice), 2) AS revenue,
        |       CAST(sum(o_orderkey) AS BIGINT) AS key_sig
        |FROM orders GROUP BY 1""".stripMargin) { (s, dir, out) =>
      val t = s"$out/t"
      graft.core.Scratch.rmTree(t)
      s.sql("DROP TABLE IF EXISTS graft_cat.default.opt18_t")
      s.sql(s"""CREATE TABLE graft_cat.default.opt18_t
        (o_orderkey BIGINT, o_totalprice DOUBLE, o_orderpriority STRING)
        USING `graft-delim` LOCATION '$t'""")
      val orders = Tables.orders(s, dir)
        .select(col("o_orderkey"), col("o_totalprice"), col("o_orderpriority"))
      for (slice <- 0 until 6)
        orders.filter(col("o_orderkey") % 6 === slice).coalesce(1)
          .writeTo("graft_cat.default.opt18_t").append()
      val hp = new org.apache.hadoop.fs.Path(t)
      val fs = hp.getFileSystem(s.sessionState.newHadoopConf())
      val before = DelimLog.readManifest(fs, hp).get.files
      require(before.size == 6, s"fixture must land 6 files, got ${before.size}")
      val target = before.map(_.len).sum * 5 / (before.size * 2)
      val r = s.sql("CALL graft_cat.system.optimize(" +
        s"table => 'default.opt18_t', target_file_size => ${target}L)")
        .collect()(0)
      val after = DelimLog.readManifest(fs, hp).get
      require(r.getInt(1) == 6 && r.getInt(2) == after.files.size &&
        r.getLong(0) == after.gen,
        s"CALL summary (${r.toSeq}) disagrees with the manifest " +
          s"(gen=${after.gen}, files=${after.files.size})")
      require(after.files.size == 3,
        s"expected 3 bins of 2 under target=$target, got ${after.files.size}")
      s.sql("""SELECT o_orderpriority, count(*) AS n_orders,
        round(sum(o_totalprice), 2) AS revenue,
        sum(o_orderkey) AS key_sig
        FROM graft_cat.default.opt18_t GROUP BY o_orderpriority""")
    },
    // SORTED WRITES (`sortBy` — the Iceberg sort-order move): an
    // unpartitioned write takes a GLOBAL ordered distribution, so
    // Spark range-partitions the job and every output file carries a
    // DISJOINT key range; the writer's recorded min/max bounds are
    // then tight and a key-range query's stats skipping opens only
    // the overlapping files — require'd via the scan's files-kept metric
    // (kept ≤ discovered/4), the non-partition-directory analogue of
    // partition pruning that key-clustered 100 TB tables live on.
    Cert.scratch("delim_v2_sorted_skipping",
      """WITH b AS (SELECT min(o_orderkey) AS mn, max(o_orderkey) AS mx
        |           FROM orders)
        |SELECT count(*) AS n_rows, round(sum(o_totalprice), 2) AS revenue,
        |       min(o_orderkey) AS min_key, max(o_orderkey) AS max_key
        |FROM orders, b
        |WHERE o_orderkey >= mn + (mx - mn) // 20
        |  AND o_orderkey <  mn + 3 * (mx - mn) // 20""".stripMargin) { (s, dir, out) =>
      val t = s"$out/t"
      graft.core.Scratch.rmTree(t)
      Tables.orders(s, dir)
        .select(col("o_orderkey"), col("o_totalprice"), col("o_orderpriority"))
        .write.format("graft-delim")
        .option("sortBy", "o_orderkey")
        .option("writePartitions", "16")
        .mode("overwrite").save(t)
      val hp = new org.apache.hadoop.fs.Path(t)
      val fs = hp.getFileSystem(s.sessionState.newHadoopConf())
      val files = DelimLog.readManifest(fs, hp).get.files
      require(files.size >= 8,
        s"fixture must range-partition into many files, got ${files.size}")
      // SCALE-INDEPENDENT bounds: a fixed 10% slice of the key span
      // (integer arithmetic, mirrored exactly in the oracle SQL) — a
      // fixed literal range is half the table at sf0.001 and nothing
      // at sf10, which is how the PlanAuditSpec run caught the first
      // cut of this require
      val Array(mn, mx) = Tables.orders(s, dir)
        .agg(min(col("o_orderkey")), max(col("o_orderkey")))
        .collect()(0).toSeq.map(_.asInstanceOf[Long]).toArray
      val lo = mn + (mx - mn) / 20
      val hi = mn + 3 * (mx - mn) / 20
      val df = s.read.format("graft-delim")
        .schema("o_orderkey BIGINT, o_totalprice DOUBLE, o_orderpriority STRING")
        .load(t)
        .filter(col("o_orderkey") >= lo && col("o_orderkey") < hi)
        .agg(count(lit(1)).as("n_rows"),
          round(sum(col("o_totalprice")), 2).as("revenue"),
          min(col("o_orderkey")).as("min_key"),
          max(col("o_orderkey")).as("max_key"))
      df.collect() // execute so the scan reports this query's pruning
      val DelimScanMetrics(_, discovered, kept, _, _, _) =
        DelimScanMetrics.one(df)
      require(kept >= 1 && kept * 3 <= discovered,
        s"sorted write must make the 10%-span query skip most files: " +
          s"kept=$kept of discovered=$discovered")
      df
    },
    // TIMESTAMP columns end-to-end (the event-log landing shape the
    // reference lives on): TimestampType is now a first-class
    // connector type — written as the Hive text form
    // (`yyyy-MM-dd HH:mm:ss.SSSSSS`, UTC), parsed byte-wise on the
    // columnar path, filter-pushable, stats-tracked, and sortable.
    // Events land sorted by ts into 12 range-disjoint files; a 3-day
    // ts-range scan must SKIP the non-overlapping files (require'd
    // kept*3 <= discovered) and the per-type rollup must match the
    // parquet-derived oracle to the microsecond.
    Cert.scratch("delim_v2_timestamp_landing",
      """SELECT event_type, count(*) AS n_events,
        |       round(sum(value), 2) AS sum_value,
        |       count(DISTINCT user_id) AS n_users,
        |       min(ts) AS first_ts, max(ts) AS last_ts
        |FROM events
        |WHERE ts >= TIMESTAMP '2024-01-10 00:00:00'
        |  AND ts < TIMESTAMP '2024-01-13 00:00:00'
        |GROUP BY 1""".stripMargin) { (s, dir, out) =>
      val t = s"$out/t"
      graft.core.Scratch.rmTree(t)
      Tables.events(s, dir)
        .select(col("event_id"), col("ts"), col("user_id"),
          col("event_type"), col("value"))
        .write.format("graft-delim")
        .option("sortBy", "ts")
        .option("writePartitions", "12")
        .mode("overwrite").save(t)
      val df = s.read.format("graft-delim")
        .schema("event_id BIGINT, ts TIMESTAMP, user_id BIGINT, " +
          "event_type STRING, value DOUBLE")
        .load(t)
        .filter(col("ts") >= lit("2024-01-10 00:00:00") &&
          col("ts") < lit("2024-01-13 00:00:00"))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_events"),
          round(sum(col("value")), 2).as("sum_value"),
          countDistinct(col("user_id")).as("n_users"),
          min(col("ts")).as("first_ts"),
          max(col("ts")).as("last_ts"))
      df.collect() // execute so the scan reports its pruning
      val DelimScanMetrics(_, discovered, kept, _, _, _) =
        DelimScanMetrics.one(df)
      require(discovered >= 10 && kept >= 1 && kept * 3 <= discovered,
        s"ts-sorted landing must skip non-overlapping files: " +
          s"kept=$kept of discovered=$discovered")
      df
    },
    // Z-ORDER clustering (ext.ZOrder — the OPTIMIZE ZORDER BY move):
    // a single-column sort prunes range queries on that column only;
    // Morton-interleaving two columns' bucketed bits makes each of the
    // 16 files a small RECTANGLE of the (custkey, totalprice) space,
    // so stats skipping prunes narrow range queries on EITHER column
    // (require'd: each one-dimensional slice keeps at most half the
    // files; the combined slice at most a quarter). Content oracle:
    // both slices' aggregates, tagged and unioned.
    Cert.scratch("delim_v2_zorder_skipping",
      """SELECT 'cust' AS slice, count(*) AS n_rows,
        |       round(sum(o_totalprice), 2) AS revenue,
        |       CAST(sum(o_orderkey) AS BIGINT) AS key_sig
        |FROM orders WHERE o_custkey BETWEEN 100 AND 200
        |UNION ALL
        |SELECT 'price', count(*), round(sum(o_totalprice), 2),
        |       CAST(sum(o_orderkey) AS BIGINT)
        |FROM orders WHERE o_totalprice BETWEEN 400000.0 AND 450000.0""".stripMargin) { (s, dir, out) =>
      val t = s"$out/t"
      graft.core.Scratch.rmTree(t)
      graft.ext.ZOrder.writeDelim(
        Tables.orders(s, dir)
          .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice")),
        t, Seq("o_custkey", "o_totalprice"), nFiles = 16)
      val schema = "o_orderkey BIGINT, o_custkey BIGINT, o_totalprice DOUBLE"
      def slice(tag: String, f: org.apache.spark.sql.Column): DataFrame = {
        val df = s.read.format("graft-delim").schema(schema).load(t)
          .filter(f)
          .agg(count(lit(1)).as("n_rows"),
            round(sum(col("o_totalprice")), 2).as("revenue"),
            sum(col("o_orderkey")).as("key_sig"))
          .select(lit(tag).as("slice"), col("n_rows"), col("revenue"),
            col("key_sig"))
        df.collect() // execute so the scan reports this slice's pruning
        val DelimScanMetrics(_, discovered, kept, _, _, _) =
          DelimScanMetrics.one(df)
        require(discovered >= 12 && kept >= 1 && kept * 2 <= discovered,
          s"z-order must prune the $tag slice: kept=$kept of $discovered")
        df
      }
      val byCust = slice("cust",
        col("o_custkey") >= 100L && col("o_custkey") <= 200L)
      val byPrice = slice("price",
        col("o_totalprice") >= 400000.0 && col("o_totalprice") <= 450000.0)
      byCust.unionByName(byPrice)
    },
    // BLOOM-SIDECAR equality skipping (`bloomFor` — parquet's
    // footer-bloom move for a format without footers): ids land HASH-
    // SHUFFLED across 12 files, so every file's [min,max] spans the
    // whole domain and stats cannot prune an `=` probe — the 100 TB
    // full-scan-for-one-row trap. Each file carries a 32 KB
    // `<file>.bloom` sidecar (NOT in the manifest: 32 KB × 100k files
    // would blow STRESS §15's metadata envelope); readers test it at
    // task start and never open non-matching data bytes. The require
    // drives the verdicts per file: an absent key skips ≥ 11 of 12,
    // a present key keeps its file. Content oracle: hit + miss probes.
    Cert.scratch("delim_v2_bloom_skipping",
      """SELECT 'hit' AS probe, count(*) AS n_rows,
        |       round(sum(o_totalprice), 2) AS revenue
        |FROM orders
        |WHERE o_orderkey * 2 = (SELECT min(o_orderkey) * 2 FROM orders)
        |UNION ALL
        |SELECT 'miss', count(*), round(sum(o_totalprice), 2)
        |FROM orders
        |WHERE o_orderkey * 2 = (SELECT min(o_orderkey) * 2 + 1 FROM orders)""".stripMargin) { (s, dir, out) =>
      import graft.sources.v2.DelimBloom
      val t = s"$out/t"
      graft.core.Scratch.rmTree(t)
      // keys DOUBLED: the fixture's orderkeys are dense, and an
      // out-of-range miss would be caught by min/max stats before the
      // bloom ever ran — odd keys are in-range-but-absent, the exact
      // case only a bloom can skip
      Tables.orders(s, dir)
        .select((col("o_orderkey") * 2).as("o_orderkey"), col("o_totalprice"))
        .repartition(12) // hash-shuffle: min/max useless by design
        .write.format("graft-delim")
        .option("bloomFor", "o_orderkey")
        .mode("overwrite").save(t)
      val hp = new org.apache.hadoop.fs.Path(t)
      val fs = hp.getFileSystem(s.sessionState.newHadoopConf())
      val m = DelimLog.readManifest(fs, hp).get
      require(m.files.size == 12 && m.bloomCols == Seq("o_orderkey"),
        s"fixture: ${m.files.size} files, bloomCols=${m.bloomCols}")
      val Array(mn, mx) = Tables.orders(s, dir)
        .agg(min(col("o_orderkey")), max(col("o_orderkey")))
        .collect()(0).toSeq.map(v => v.asInstanceOf[Long] * 2).toArray
      val absent = mn + 1L // odd: inside [min,max], in no file
      def skips(key: Long): Int = m.files.count(e =>
        DelimBloom.fileSkips(fs, new org.apache.hadoop.fs.Path(hp, e.rel),
          Seq(("o_orderkey", Seq(key.toString)))))
      require(skips(absent) >= m.files.size - 1,
        s"in-range absent key must skip ~every file, skipped ${skips(absent)}" +
          s" of ${m.files.size}")
      require(skips(mn) < m.files.size,
        "the file holding the min key must not skip")
      // POST-OPTIMIZE: compaction OR-merges the members'
      // sidecars (fixed geometry, bitwise union), so the compacted
      // files STILL prove the absent key away — the skipping survives
      // maintenance instead of silently degrading to full scans
      graft.sources.v2.DelimCompact.compact(s, t,
        targetFileSize = m.files.map(_.len).sum / 4)
      val m2 = DelimLog.readManifest(fs, hp).get
      require(m2.files.size < m.files.size && m2.bloomCols == Seq("o_orderkey"),
        s"compaction fixture: ${m2.files.size} files")
      def skips2(key: Long): Int = m2.files.count(e =>
        DelimBloom.fileSkips(fs, new org.apache.hadoop.fs.Path(hp, e.rel),
          Seq(("o_orderkey", Seq(key.toString)))))
      require(skips2(absent) >= m2.files.size - 1,
        s"post-OPTIMIZE probe: merged sidecars must still skip the " +
          s"absent key (skipped ${skips2(absent)} of ${m2.files.size})")
      require(skips2(mn) < m2.files.size,
        "post-OPTIMIZE probe: the min key's compacted file must not skip")
      val delim = s.read.format("graft-delim")
        .schema("o_orderkey BIGINT, o_totalprice DOUBLE").load(t)
      delim.createOrReplaceTempView("bloom18_t")
      s.sql(s"""SELECT 'hit' AS probe, count(*) AS n_rows,
          round(sum(o_totalprice), 2) AS revenue
        FROM bloom18_t WHERE o_orderkey = $mn
        UNION ALL
        SELECT 'miss', count(*), round(sum(o_totalprice), 2)
        FROM bloom18_t WHERE o_orderkey = $absent""")
    },
    // SNAPSHOT HISTORY (`CALL graft_cat.system.snapshots` — DESCRIBE
    // HISTORY): one row per retained generation with commit time,
    // file/row counts (rows from the manifest's recorded stats — zero
    // data reads), and live tombstones. Gen 1 lands the low-price
    // half (1 file), gen 2 appends the rest (+1 file); the recorded
    // row counts must equal the parquet-derived truth.
    Cert.scratch("delim_v2_snapshots",
      """SELECT CAST(1 AS BIGINT) AS generation, 1 AS n_files,
        |       count(*) AS n_rows, 0 AS n_tombstones
        |FROM orders WHERE o_totalprice <= 100000.0
        |UNION ALL
        |SELECT CAST(2 AS BIGINT), 2, count(*), 0 FROM orders""".stripMargin) { (s, dir, out) =>
      val t = s"$out/t"
      graft.core.Scratch.rmTree(t)
      s.sql("DROP TABLE IF EXISTS graft_cat.default.snap18_t")
      s.sql(s"""CREATE TABLE graft_cat.default.snap18_t
        (o_orderkey BIGINT, o_totalprice DOUBLE)
        USING `graft-delim` OPTIONS (retainVersions '3') LOCATION '$t'""")
      val orders = Tables.orders(s, dir)
        .select(col("o_orderkey"), col("o_totalprice"))
      orders.filter(col("o_totalprice") <= 100000.0).coalesce(1)
        .writeTo("graft_cat.default.snap18_t").append()
      orders.filter(col("o_totalprice") > 100000.0).coalesce(1)
        .writeTo("graft_cat.default.snap18_t").append()
      val hist = s.sql(
        "CALL graft_cat.system.snapshots(table => 'default.snap18_t')")
      require(hist.schema.fieldNames.contains("committed_at") &&
        hist.filter(col("committed_at").isNull).count() == 0,
        "every retained snapshot must carry its commit time")
      hist.select(col("generation"), col("n_files"), col("n_rows"),
        col("n_tombstones"))
    },
    // MERGE-ON-READ DELETE (deletion tombstones): a DELETE whose
    // condition is fully pushable routes through SupportsDelete
    // (Spark's OptimizeMetadataOnlyDeleteFromTable) instead of the
    // copy-on-write rewrite — a tombstone lands in the manifest and
    // every matched data file SURVIVES BYTE-IDENTICAL (require'd:
    // same rel/len/gen set), the CoW write-amplification fix for
    // small corrections at 100 TB. Tombstones are generation-scoped:
    // rows re-inserted AFTER the delete match its predicate but must
    // survive (require'd via the oracle). A partition-only DELETE
    // takes the stronger form — matched entries leave the manifest
    // outright, no tombstone debt.
    Cert.scratch("delim_v2_delete_mor",
      """WITH kept AS (
        |  SELECT o_orderkey, o_totalprice, o_orderstatus FROM orders
        |  WHERE NOT (o_totalprice > 100000.0) AND o_orderstatus <> 'P'),
        |reinserted AS (
        |  SELECT o_orderkey + 1000000000 AS o_orderkey, o_totalprice,
        |         o_orderstatus
        |  FROM orders WHERE o_totalprice > 100000.0)
        |SELECT o_orderstatus, count(*) AS n_rows,
        |       round(sum(o_totalprice), 2) AS revenue,
        |       CAST(sum(o_orderkey) AS BIGINT) AS key_sig
        |FROM (SELECT * FROM kept UNION ALL SELECT * FROM reinserted)
        |GROUP BY 1""".stripMargin) { (s, dir, out) =>
      val t = s"$out/t"
      graft.core.Scratch.rmTree(t)
      s.sql("DROP TABLE IF EXISTS graft_cat.default.mor18_t")
      s.sql(s"""CREATE TABLE graft_cat.default.mor18_t
        (o_orderkey BIGINT, o_totalprice DOUBLE, o_orderstatus STRING)
        USING `graft-delim` PARTITIONED BY (o_orderstatus) LOCATION '$t'""")
      val base = Tables.orders(s, dir)
        .select(col("o_orderkey"), col("o_totalprice"), col("o_orderstatus"))
      base.writeTo("graft_cat.default.mor18_t").append()
      val hp = new org.apache.hadoop.fs.Path(t)
      val fs = hp.getFileSystem(s.sessionState.newHadoopConf())
      def snap() = DelimLog.readManifest(fs, hp).get
      val before = snap()
      val beforeSet = before.files.map(e => (e.rel, e.len, e.gen)).toSet
      // 1) data-column DELETE → tombstone; every data file survives
      s.sql("DELETE FROM graft_cat.default.mor18_t WHERE o_totalprice > 100000.0")
      val afterTomb = snap()
      require(afterTomb.files.map(e => (e.rel, e.len, e.gen)).toSet == beforeSet,
        "merge-on-read DELETE must leave every data file byte-identical " +
          s"(before=${beforeSet.size} files, after=${afterTomb.files.size})")
      require(afterTomb.tombstones.size == 1 && afterTomb.gen == before.gen + 1,
        s"expected exactly one tombstone at gen ${before.gen + 1}, got " +
          s"${afterTomb.tombstones.size} at gen ${afterTomb.gen}")
      // 2) partition-only DELETE → matched entries leave the manifest
      s.sql("DELETE FROM graft_cat.default.mor18_t WHERE o_orderstatus = 'P'")
      val afterPart = snap()
      require(afterPart.tombstones.size == 1,
        "partition-only DELETE must not add a tombstone")
      require(afterPart.files.forall(!_.rel.startsWith("o_orderstatus=P/")) &&
        afterPart.files.map(e => (e.rel, e.len, e.gen)).toSet ==
          beforeSet.filterNot(_._1.startsWith("o_orderstatus=P/")),
        "partition-only DELETE must drop exactly the matched partition's entries")
      // 3) rows matching the OLD tombstone predicate, inserted after
      // it, must survive (generation-scoped applicability)
      base.filter(col("o_totalprice") > 100000.0)
        .withColumn("o_orderkey", col("o_orderkey") + lit(1000000000L))
        .writeTo("graft_cat.default.mor18_t").append()
      s.sql("""SELECT o_orderstatus, count(*) AS n_rows,
        round(sum(o_totalprice), 2) AS revenue,
        sum(o_orderkey) AS key_sig
        FROM graft_cat.default.mor18_t GROUP BY o_orderstatus""")
    },
    // CBO ROW COUNTS from manifest stats (SupportsReportStatistics
    // .numRows): a partition-pruned graft-delim dimension reports the
    // EXACT post-pruning row count recorded by its writers, so the
    // planner sizes the join on real cardinality — the pruned slice
    // broadcasts with NO hint. The requires pin both halves: the
    // scan's reported numRows equals the parquet-derived truth for
    // the pruned partition, and the join plans as BroadcastHashJoin.
    Cert.scratch("delim_v2_broadcast_stats",
      """SELECT c_mktsegment, count(*) AS n_orders,
        |       round(sum(o_totalprice), 2) AS revenue
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |WHERE c_mktsegment = 'BUILDING'
        |GROUP BY 1""".stripMargin) { (s, dir, out) =>
      import graft.sources.v2.DelimScan
      val t = s"$out/cust"
      graft.core.Scratch.rmTree(t)
      Tables.customer(s, dir)
        .select(col("c_custkey"), col("c_acctbal"), col("c_mktsegment"))
        .write.format("graft-delim")
        .option("partitionBy", "c_mktsegment")
        .mode("overwrite").save(t)
      val dim = s.read.format("graft-delim")
        .schema("c_custkey BIGINT, c_acctbal DOUBLE, c_mktsegment STRING")
        .load(t)
        .filter(col("c_mktsegment") === "BUILDING")
      val truth = Tables.customer(s, dir)
        .filter(col("c_mktsegment") === "BUILDING").count()
      val scans = dim.queryExecution.executedPlan.collect {
        case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => b.scan
      }
      require(scans.nonEmpty, "no BatchScanExec under the dim plan")
      val nr = scans.head.asInstanceOf[DelimScan].estimateStatistics().numRows()
      require(nr.isPresent && nr.getAsLong == truth,
        s"pruned scan must report exact numRows=$truth from manifest " +
          s"stats, got ${if (nr.isPresent) nr.getAsLong.toString else "<absent>"}")
      val joined = Tables.orders(s, dir)
        .join(dim, col("o_custkey") === col("c_custkey"))
        .groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("n_orders"),
          round(sum(col("o_totalprice")), 2).as("revenue"))
      val plan = joined.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      require(plan.contains("BroadcastHashJoin"),
        s"pruned delim dim under the threshold must broadcast unhinted:\n$plan")
      joined
    },
    // SEGMENTED MANIFEST: many small appends push the table past the
    // segmentation threshold; the committed `_manifest.v<gen>` becomes
    // a small index over immutable content-addressed per-partition
    // segment files. The requires pin the three mechanisms the design
    // exists for: (1) a narrow append commits exactly ONE new segment
    // plus the index (every other chunk's bytes — and so its content
    // hash — are unchanged and the landed file is reused); (2) a plan
    // with a pushed partition equality LOADS < 20% of the segments
    // (the listing itself prunes, not just split planning); (3) the
    // full read still sees every row (content oracle).
    Cert.scratch("delim_v2_manifest_segmented",
      """SELECT 'p03' AS slice, count(*) AS n_rows,
        |       CAST(sum(o_orderkey) AS BIGINT) AS key_sig
        |FROM orders WHERE o_orderkey % 16 = 3
        |UNION ALL
        |SELECT 'all',
        |       (SELECT count(*) FROM orders)
        |         + (SELECT count(*) FROM orders WHERE o_orderkey % 128 = 7),
        |       CAST((SELECT sum(o_orderkey) FROM orders)
        |         + (SELECT sum(o_orderkey + 100000000) FROM orders
        |            WHERE o_orderkey % 128 = 7) AS BIGINT)""".stripMargin) { (s, dir, out) =>
      val t = s"$out/t"
      graft.core.Scratch.rmTree(t)
      val orders = Tables.orders(s, dir)
        .select(col("o_orderkey"),
          format_string("p%02d", col("o_orderkey") % 16).as("pc"))
      // 4 appends x 16 partitions x 1 task = 64 entries; segSize 8
      // keeps each partition's 4-entry run a single chunk -> 16 segs.
      // Slice on (key div 16) so each append covers ALL 16 residues
      // (slicing on key % 4 would correlate with the partition
      // residue and land only 4 partitions per append).
      for (slice <- 0 until 4)
        orders.filter(expr(s"(o_orderkey div 16) % 4 = $slice"))
          .coalesce(1).write.format("graft-delim")
          .option("partitionBy", "pc")
          .option("manifestSegmentSize", "8")
          .mode(if (slice == 0) "overwrite" else "append").save(t)
      val hp = new org.apache.hadoop.fs.Path(t)
      val fs = hp.getFileSystem(s.sessionState.newHadoopConf())
      def segs(): Set[String] =
        Option(fs.globStatus(new org.apache.hadoop.fs.Path(t,
          s"${DelimLog.SegPrefix}*")))
          .map(_.toSeq).getOrElse(Nil).map(_.getPath.getName).toSet
      val m0 = DelimLog.readManifest(fs, hp).get
      require(m0.files.size == 64,
        s"fixture must land 64 entries, got ${m0.files.size}")
      // the pointer is an INDEX: no inline entry lines past threshold.
      // REFERENCED segments count 16 (one per partition run); replaced
      // chunks from earlier appends may still breathe on disk inside
      // the GC grace window (readers mid-plan on an old index), so the
      // structural requires read the INDEX, not the directory.
      def pointerDoc(): String = {
        val in = fs.open(new org.apache.hadoop.fs.Path(t, DelimLog.ManifestFile))
        try scala.io.Source.fromInputStream(in, "UTF-8").mkString
        finally in.close()
      }
      val doc = pointerDoc()
      require(doc.contains("#segment\t") && !doc.linesIterator.exists(l =>
        l.nonEmpty && !l.startsWith("#")),
        "past the threshold the committed manifest must be a segment index")
      val refBefore = doc.linesIterator.filter(_.startsWith("#segment\t"))
        .map(_.split('\t')(1)).toSet
      require(refBefore.size == 16,
        s"expected 16 per-partition segments, got ${refBefore.size}")
      val before = segs()
      // (1) narrow append -> exactly one new segment + the new index
      orders.filter(col("o_orderkey") % 128 === 7)
        .select((col("o_orderkey") + 100000000L).as("o_orderkey"), col("pc"))
        .coalesce(1).write.format("graft-delim")
        .option("partitionBy", "pc").mode("append").save(t)
      val born = segs() -- before
      require(born.size == 1,
        s"a one-partition append must commit exactly one new segment, " +
          s"got ${born.size}: ${born.mkString(", ")}")
      require(DelimLog.readManifest(fs, hp).get.gen == m0.gen + 1,
        "the append must advance the index generation")
      // (2) pushed partition equality loads < 20% of segments
      val p03Df = s.read.format("graft-delim")
        .schema("o_orderkey BIGINT, pc STRING").load(t)
        .filter(col("pc") === "p03")
        .agg(count(lit(1)).as("n"), sum(col("o_orderkey")).as("sig"))
      val p03 = p03Df.collect()(0)
      val DelimScanMetrics(_, _, _, _, total, read) =
        DelimScanMetrics.one(p03Df)
      require(read >= 1 && read * 5 <= total,
        s"pruned planning must load < 20% of segments, read $read of $total")
      // (3) full-content oracle: p03 slice + whole-table signature
      val full = s.read.format("graft-delim")
        .schema("o_orderkey BIGINT, pc STRING").load(t)
        .agg(count(lit(1)).as("n"), sum(col("o_orderkey")).as("sig"))
        .collect()(0)
      import s.implicits._
      Seq(
        ("p03", p03.getLong(0), p03.getLong(1)),
        ("all", full.getLong(0), full.getLong(1)))
        .toDF("slice", "n_rows", "key_sig")
    },
    // TOMBSTONE-RETIRING COMPACTION: a pushable DELETE commits a
    // tombstone and leaves every data file byte-identical (the MoR
    // contract, re-pinned here); OPTIMIZE then rewrites ONLY the
    // tombstoned files through the parse path — deleted rows are
    // physically gone (raw newline count proves it), rows inserted
    // AFTER the delete survive byte-identical even though they match
    // its predicate (generation-scoped applicability through the
    // rewrite), and the committed manifest carries zero tombstones,
    // re-enabling the stats/count pushdowns tombstones suppress.
    Cert.scratch("delim_v2_delete_retire",
      """SELECT o_orderstatus, count(*) AS n_rows,
        |       round(sum(o_totalprice), 2) AS revenue,
        |       CAST(sum(o_orderkey) AS BIGINT) AS key_sig
        |FROM (
        |  SELECT o_orderkey, o_totalprice, o_orderstatus
        |  FROM orders WHERE o_totalprice <= 100000.0
        |  UNION ALL
        |  SELECT o_orderkey + 1000000000, o_totalprice, o_orderstatus
        |  FROM orders WHERE o_totalprice > 100000.0
        |) GROUP BY 1""".stripMargin) { (s, dir, out) =>
      import graft.sources.v2.DelimCompact
      val t = s"$out/t"
      graft.core.Scratch.rmTree(t)
      s.sql("DROP TABLE IF EXISTS graft_cat.default.mor19_t")
      s.sql(s"""CREATE TABLE graft_cat.default.mor19_t
        (o_orderkey BIGINT, o_totalprice DOUBLE, o_orderstatus STRING)
        USING `graft-delim` PARTITIONED BY (o_orderstatus) LOCATION '$t'""")
      val base = Tables.orders(s, dir)
        .select(col("o_orderkey"), col("o_totalprice"), col("o_orderstatus"))
      base.writeTo("graft_cat.default.mor19_t").append()
      val hp = new org.apache.hadoop.fs.Path(t)
      val fs = hp.getFileSystem(s.sessionState.newHadoopConf())
      def snap() = DelimLog.readManifest(fs, hp).get
      val before = snap()
      s.sql("DELETE FROM graft_cat.default.mor19_t WHERE o_totalprice > 100000.0")
      val tombed = snap()
      require(tombed.tombstones.size == 1 &&
        tombed.files.map(e => (e.rel, e.len, e.gen)).toSet ==
          before.files.map(e => (e.rel, e.len, e.gen)).toSet,
        "pushable DELETE must tombstone, not rewrite")
      val tombGen = tombed.tombstones.head._1
      // rows matching the delete predicate, inserted AFTER it
      base.filter(col("o_totalprice") > 100000.0)
        .withColumn("o_orderkey", col("o_orderkey") + lit(1000000000L))
        .writeTo("graft_cat.default.mor19_t").append()
      val postAppend = snap().files.filter(_.gen > tombGen)
        .map(e => (e.rel, e.len, e.gen)).toSet
      require(postAppend.nonEmpty, "fixture must land post-delete files")
      // OPTIMIZE with the concat path disabled: the ONLY rewrites are
      // the tombstone retirements
      DelimCompact.compact(s, t, minFilesPerGroup = Int.MaxValue)
      val m2 = snap()
      require(m2.tombstones.isEmpty,
        s"compaction must retire the tombstone debt, ${m2.tombstones.size} left")
      require(m2.files.forall(_.gen > tombGen),
        "every tombstone-applicable file must be rewritten")
      require(postAppend.subsetOf(m2.files.map(e => (e.rel, e.len, e.gen)).toSet),
        "post-delete files must survive BYTE-IDENTICAL (only tombstoned " +
          "files rewrite)")
      // physical proof: the deleted rows are gone from the BYTES, not
      // just filtered at read time — raw newline count over every live
      // file equals the surviving row count
      val expected = base.filter(col("o_totalprice") <= 100000.0).count() +
        base.filter(col("o_totalprice") > 100000.0).count()
      val rawLines = m2.files.map { e =>
        val in = fs.open(new org.apache.hadoop.fs.Path(hp, e.rel))
        try {
          var n = 0L; var c = in.read()
          while (c >= 0) { if (c == '\n') n += 1; c = in.read() }
          n
        } finally in.close()
      }.sum
      require(rawLines == expected,
        s"deleted rows still on disk: $rawLines lines, expected $expected")
      s.sql("""SELECT o_orderstatus, count(*) AS n_rows,
        round(sum(o_totalprice), 2) AS revenue,
        sum(o_orderkey) AS key_sig
        FROM graft_cat.default.mor19_t GROUP BY o_orderstatus""")
    },
    // ORPHAN SWEEP (`CALL graft_cat.system.remove_orphans`): a crashed
    // commit can leave promoted-but-never-listed data files, a dead
    // staging tree, and an unclaimed manifest tmp — garbage no
    // retained snapshot references, invisible to reads but paid for
    // forever in storage and listing time at 100 TB. The requires pin
    // the exact sweep set: the planted orphans (a stray data file
    // inside a partition dir, a stray bloom sidecar, a dead
    // `_staging_*` tree, a `_manifest.claim-*` leftover) all die,
    // while every live file of every RETAINED generation survives
    // with identical bytes (md5-pinned) and time travel still reads
    // the older snapshot. Oracle unchanged — orphans were never
    // visible to queries.
    Cert.scratch("delim_v2_remove_orphans",
      OrderStatusSummaryOracle) { (s, dir, out) =>
      val t = s"$out/t"
      graft.core.Scratch.rmTree(t)
      s.sql("DROP TABLE IF EXISTS graft_cat.default.ro19_t")
      s.sql(s"""CREATE TABLE graft_cat.default.ro19_t
        (o_orderkey BIGINT, o_totalprice DOUBLE, o_orderstatus STRING)
        USING `graft-delim` PARTITIONED BY (o_orderstatus)
        OPTIONS (retainVersions '2') LOCATION '$t'""")
      val base = Tables.orders(s, dir)
        .select(col("o_orderkey"), col("o_totalprice"), col("o_orderstatus"))
      base.filter(col("o_orderkey") % 2 === 0)
        .writeTo("graft_cat.default.ro19_t").append()
      base.filter(col("o_orderkey") % 2 === 1)
        .writeTo("graft_cat.default.ro19_t").append()
      val hp = new org.apache.hadoop.fs.Path(t)
      val fs = hp.getFileSystem(s.sessionState.newHadoopConf())
      val m = DelimLog.readManifest(fs, hp).get
      def md5Of(p: org.apache.hadoop.fs.Path): String = {
        val md = java.security.MessageDigest.getInstance("MD5")
        val in = fs.open(p)
        try {
          val buf = new Array[Byte](1 << 16)
          var n = in.read(buf)
          while (n > 0) { md.update(buf, 0, n); n = in.read(buf) }
        } finally in.close()
        md.digest().map(b => f"$b%02x").mkString
      }
      val liveBefore = m.files.map(e =>
        e.rel -> md5Of(new org.apache.hadoop.fs.Path(hp, e.rel))).toMap
      // plant the orphans a crashed commit would leave
      def plant(rel: String, bytes: String): Unit = {
        val p = new org.apache.hadoop.fs.Path(hp, rel)
        fs.mkdirs(p.getParent)
        val o = fs.create(p, true)
        try o.write(bytes.getBytes("UTF-8")) finally o.close()
      }
      val strayData = m.files.head.rel.replaceAll("/[^/]+$", "") +
        "/part-crashed-orphan.txt"
      plant(strayData, "9|9.0\n")
      plant("part-root-orphan.txt.bloom", "junk")
      plant("_staging_deadbeef/task-0.txt", "1|1.0\n")
      plant("_manifest.claim-dead1234", "#junk")
      val r = s.sql("CALL graft_cat.system.remove_orphans(" +
        "table => 'default.ro19_t', older_than_ms => 0)").collect()(0)
      require(r.getLong(0) >= 4L,
        s"expected >= 4 orphans swept, got ${r.getLong(0)}")
      Seq(strayData, "part-root-orphan.txt.bloom", "_staging_deadbeef",
        "_manifest.claim-dead1234").foreach { rel =>
        require(!fs.exists(new org.apache.hadoop.fs.Path(hp, rel)),
          s"orphan '$rel' survived the sweep")
      }
      // every live file of the CURRENT snapshot: identical bytes
      liveBefore.foreach { case (rel, h) =>
        val p = new org.apache.hadoop.fs.Path(hp, rel)
        require(fs.exists(p) && md5Of(p) == h,
          s"live file '$rel' was touched by the orphan sweep")
      }
      // the RETAINED previous generation still time-travels
      require(s.read.format("graft-delim")
        .schema("o_orderkey BIGINT, o_totalprice DOUBLE, o_orderstatus STRING")
        .option("versionAsOf", (m.gen - 1).toString).load(t)
        .count() > 0, "retained snapshot lost readability")
      s.sql("""SELECT o_orderstatus, count(*) AS n_rows,
        round(sum(o_totalprice), 2) AS revenue,
        sum(o_orderkey) AS key_sig
        FROM graft_cat.default.ro19_t GROUP BY o_orderstatus""")
    },
    // RENAME / DROP COLUMN over stable field IDs: generation 1 lands
    // under the original name, ALTER TABLE RENAME commits a
    // schema-lineage generation (ZERO data rewrites — byte-identical
    // file set pinned), generation 3 lands under the new name, and a
    // read serves the column from BOTH generations through the
    // listing-time ID translation. DROP COLUMN makes a column's bytes
    // unreachable without rewrites, and a later re-ADD of the same
    // name gets a fresh ID — the old bytes must NOT resurrect.
    Cert.scratch("delim_v2_column_rename",
      OrderStatusSummaryOracle) { (s, dir, out) =>
      val t = s"$out/t"
      graft.core.Scratch.rmTree(t)
      s.sql("DROP TABLE IF EXISTS graft_cat.default.cr19_t")
      s.sql(s"""CREATE TABLE graft_cat.default.cr19_t
        (o_orderkey BIGINT, o_totalamount DOUBLE, o_orderstatus STRING)
        USING `graft-delim` PARTITIONED BY (o_orderstatus) LOCATION '$t'""")
      val base = Tables.orders(s, dir)
        .select(col("o_orderkey"), col("o_totalprice"), col("o_orderstatus"))
      base.filter(col("o_orderkey") % 2 === 0)
        .withColumnRenamed("o_totalprice", "o_totalamount")
        .writeTo("graft_cat.default.cr19_t").append()
      val hp = new org.apache.hadoop.fs.Path(t)
      val fs = hp.getFileSystem(s.sessionState.newHadoopConf())
      def snap() = DelimLog.readManifest(fs, hp).get
      val before = snap()
      val beforeSet = before.files.map(e => (e.rel, e.len, e.gen)).toSet
      s.sql("ALTER TABLE graft_cat.default.cr19_t " +
        "RENAME COLUMN o_totalamount TO o_totalprice")
      val renamed = snap()
      require(renamed.gen == before.gen + 1 &&
        renamed.files.map(e => (e.rel, e.len, e.gen)).toSet == beforeSet,
        "RENAME COLUMN must commit a schema-lineage generation and " +
          "rewrite ZERO data files")
      base.filter(col("o_orderkey") % 2 === 1)
        .writeTo("graft_cat.default.cr19_t").append()
      // both generations answer under the NEW name (gen 1 through the
      // field-ID translation, gen 3 natively)
      val perGen = s.table("graft_cat.default.cr19_t")
        .agg(count(lit(1)), sum(when(col("o_totalprice").isNull, 1)
          .otherwise(0))).collect()(0)
      require(perGen.getLong(1) == 0L,
        "renamed column must be non-null from EVERY generation")
      // DROP + re-ADD on a side table: the dropped bytes never resurrect
      val t2 = s"$out/t2"
      graft.core.Scratch.rmTree(t2)
      s.sql("DROP TABLE IF EXISTS graft_cat.default.cr19_side")
      s.sql(s"""CREATE TABLE graft_cat.default.cr19_side
        (id BIGINT, secret STRING) USING `graft-delim` LOCATION '$t2'""")
      import s.implicits._
      Seq((1L, "classified"), (2L, "hidden")).toDF("id", "secret")
        .writeTo("graft_cat.default.cr19_side").append()
      val hp2 = new org.apache.hadoop.fs.Path(t2)
      val sideBefore = DelimLog.readManifest(fs, hp2).get.files
        .map(e => (e.rel, e.len, e.gen)).toSet
      s.sql("ALTER TABLE graft_cat.default.cr19_side DROP COLUMN secret")
      require(DelimLog.readManifest(fs, hp2).get.files
        .map(e => (e.rel, e.len, e.gen)).toSet == sideBefore,
        "DROP COLUMN must rewrite ZERO data files")
      require(!s.table("graft_cat.default.cr19_side").schema
        .fieldNames.contains("secret"), "dropped column still visible")
      s.sql("ALTER TABLE graft_cat.default.cr19_side ADD COLUMN secret STRING")
      val res = s.table("graft_cat.default.cr19_side")
        .select("id", "secret").collect()
      require(res.forall(_.isNullAt(1)),
        "re-added column must NOT resurrect the dropped column's bytes: " +
          res.map(r => s"${r.getLong(0)}=${r.getString(1)}").mkString(","))
      s.sql("""SELECT o_orderstatus, count(*) AS n_rows,
        round(sum(o_totalprice), 2) AS revenue,
        sum(o_orderkey) AS key_sig
        FROM graft_cat.default.cr19_t GROUP BY o_orderstatus""")
    },
    // CBO COLUMN STATISTICS: writers record a per-file per-column
    // distinct-count estimate (256-register HLL over the written
    // text) in the manifest stats; the scan surfaces table-level
    // distinct counts (min(Σ per-file ndv, rows)) through
    // SupportsReportStatistics.columnStats. The requires pin the
    // causal chain: (1) every scan's logical-plan stats carry
    // attributeStats with the recorded NDVs; (2) with CBO join
    // reordering on and NO hints, a 3-table join written with the
    // UNSELECTIVE dimension first is reordered to join the SELECTIVE
    // dimension (1% of customers — provably small output via the
    // o_custkey distinct count) innermost. Oracle = the same join in
    // DuckDB.
    Cert.scratch("delim_v2_cbo_ndv",
      """SELECT count(*) AS n_rows,
        |       round(sum(c_acctbal), 2) AS bal_sum,
        |       round(sum(CASE o_orderstatus WHEN 'F' THEN 1.0
        |                 WHEN 'O' THEN 2.0 ELSE 3.0 END), 2) AS w_sum
        |FROM orders JOIN customer
        |  ON o_custkey = c_custkey AND c_custkey % 100 = 0""".stripMargin) { (s, dir, out) =>
      graft.core.Scratch.rmTree(out)
      Tables.orders(s, dir)
        .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"))
        .coalesce(1).write.format("graft-delim").mode("overwrite")
        .save(s"$out/fact")
      Tables.customer(s, dir)
        .filter(col("c_custkey") % 100 === 0)
        .select(col("c_custkey"), col("c_acctbal"))
        .coalesce(1).write.format("graft-delim").mode("overwrite")
        .save(s"$out/dima")
      import s.implicits._
      Seq(("F", 1.0), ("O", 2.0), ("P", 3.0)).toDF("st", "w")
        .coalesce(1).write.format("graft-delim").mode("overwrite")
        .save(s"$out/dimb")
      def rd(name: String, ddl: String) =
        s.read.format("graft-delim").schema(ddl).load(s"$out/$name")
      val confs = Seq("spark.sql.cbo.enabled" -> "true",
        "spark.sql.cbo.joinReorder.enabled" -> "true",
        "spark.sql.autoBroadcastJoinThreshold" -> "-1")
      val saved = confs.map { case (k, _) => k -> s.conf.getOption(k) }
      confs.foreach { case (k, v) => s.conf.set(k, v) }
      try {
        val fact = rd("fact", "o_orderkey BIGINT, o_custkey BIGINT, o_orderstatus STRING")
        val dima = rd("dima", "c_custkey BIGINT, c_acctbal DOUBLE")
        val dimb = rd("dimb", "st STRING, w DOUBLE")
        // syntactically the UNSELECTIVE dimension joins first
        val probe = fact
          .join(dimb, fact("o_orderstatus") === dimb("st"))
          .join(dima, fact("o_custkey") === dima("c_custkey"))
          .agg(count(lit(1)), sum(col("c_acctbal")), sum(col("w")))
        val optimized = probe.queryExecution.optimizedPlan
        import org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation
        val scans = optimized.collect { case r: DataSourceV2ScanRelation => r }
        require(scans.size == 3, s"expected 3 scans, got ${scans.size}")
        scans.foreach { r =>
          require(r.stats.rowCount.isDefined && r.stats.attributeStats.nonEmpty,
            s"NDV column stats did not reach the plan for ${r.scan}")
        }
        val joins = optimized.collect {
          case j: org.apache.spark.sql.catalyst.plans.logical.Join => j }
        require(joins.size == 2, s"expected 2 joins\n$optimized")
        val innerOutputs = joins.last.collect {
          case r: DataSourceV2ScanRelation => r }
          .flatMap(_.output.map(_.name)).toSet
        require(innerOutputs.contains("c_acctbal"),
          "CBO must reorder the SELECTIVE customer join innermost " +
            s"(inner join outputs: $innerOutputs)\n$optimized")
      } finally saved.foreach { case (k, v) =>
        v match {
          case Some(x) => s.conf.set(k, x)
          case None => s.conf.unset(k)
        }
      }
      // the certified result, recomputed under the session's normal
      // configuration (same rows either join order)
      val fact = rd("fact", "o_orderkey BIGINT, o_custkey BIGINT, o_orderstatus STRING")
      val dima = rd("dima", "c_custkey BIGINT, c_acctbal DOUBLE")
      val dimb = rd("dimb", "st STRING, w DOUBLE")
      fact.join(dimb, fact("o_orderstatus") === dimb("st"))
        .join(dima, fact("o_custkey") === dima("c_custkey"))
        .agg(count(lit(1)).as("n_rows"),
          round(sum(col("c_acctbal")), 2).as("bal_sum"),
          round(sum(col("w")), 2).as("w_sum"))
    },
    // SNAPSHOT TAGS: a named, retention-EXEMPT pin on a generation
    // (Iceberg's tags, re-expressed for the graft manifest): `CALL
    // create_tag` records tag->generation in the manifest header, the
    // tagged versioned manifest survives retention expiry (and with it
    // every file/segment it references — the sweeps all key off the
    // versioned manifests present on disk), `option("tagAsOf", name)`
    // reads the pinned snapshot, and `drop_tag` releases it back to
    // ordinary retention. The requires pin the lifecycle: the tagged
    // .v file SURVIVES an overwrite + expire_snapshots(retain=1) while
    // its untagged siblings expire; the tagAsOf read returns the
    // ORIGINAL overwritten data; an unknown tag fails loudly; and
    // after drop_tag + expire the pinned manifest is actually
    // reclaimed (a tag that never releases is a storage leak).
    Cert.scratch("delim_v2_snapshot_tag",
      // the tagged snapshot is the %3=0 slice as originally written; the
      // current table is the %3=1 overwrite
      """SELECT 'baseline' AS slice, count(*) AS n_rows,
        |       CAST(sum(o_orderkey) AS BIGINT) AS key_sig
        |FROM orders WHERE o_orderkey % 3 = 0
        |UNION ALL
        |SELECT 'current', count(*), CAST(sum(o_orderkey) AS BIGINT)
        |FROM orders WHERE o_orderkey % 3 = 1""".stripMargin) { (s, dir, out) =>
      val t = s"$out/t"
      graft.core.Scratch.rmTree(t)
      def intercept(body: => Any): Option[String] =
        try { body; None } catch {
          case e: Throwable => Some(Iterator.iterate(e: Throwable)(_.getCause)
            .takeWhile(_ != null)
            .map(x => Option(x.getMessage).getOrElse("")).mkString("|"))
        }
      s.sql("DROP TABLE IF EXISTS graft_cat.default.tag20_t")
      s.sql(s"""CREATE TABLE graft_cat.default.tag20_t
        (o_orderkey BIGINT, o_totalprice DOUBLE)
        USING `graft-delim` LOCATION '$t'""")
      val orders = core.Tables.orders(s, dir)
        .select(col("o_orderkey"), col("o_totalprice"))
      orders.filter(col("o_orderkey") % 3 === 0)
        .writeTo("graft_cat.default.tag20_t").append() // gen 1
      s.sql("""CALL graft_cat.system.create_tag(
        table => 'default.tag20_t', tag => 'baseline')""") // gen 2
      // OVERWRITE: gen 1's files die for every purpose EXCEPT the tag
      orders.filter(col("o_orderkey") % 3 === 1)
        .write.format("graft-delim").mode("overwrite").save(t) // gen 3
      s.sql("""CALL graft_cat.system.expire_snapshots(
        table => 'default.tag20_t', retain => 1)""") // gen 4
      val hp = new org.apache.hadoop.fs.Path(t)
      val fs = hp.getFileSystem(s.sessionState.newHadoopConf())
      def vExists(g: Long) =
        fs.exists(new org.apache.hadoop.fs.Path(t, s"_manifest.v$g"))
      require(vExists(1L),
        "the TAGGED generation must survive retention expiry")
      require(!vExists(2L) && !vExists(3L),
        "untagged generations must expire normally")
      def slice(df: org.apache.spark.sql.DataFrame) = df
        .agg(count(lit(1)).as("n"), sum(col("o_orderkey")).as("sig"))
        .collect()(0)
      val base = slice(s.read.format("graft-delim")
        .schema("o_orderkey BIGINT, o_totalprice DOUBLE")
        .option("tagAsOf", "baseline").load(t))
      val cur = slice(s.read.format("graft-delim")
        .schema("o_orderkey BIGINT, o_totalprice DOUBLE").load(t))
      val eUnknown = intercept(
        s.read.format("graft-delim")
          .schema("o_orderkey BIGINT, o_totalprice DOUBLE")
          .option("tagAsOf", "nope").load(t).count())
      require(eUnknown.exists(_.contains("no snapshot tag")),
        s"unknown tag must fail loudly, got $eUnknown")
      // release: drop_tag + expire reclaims the pinned manifest
      s.sql("""CALL graft_cat.system.drop_tag(
        table => 'default.tag20_t', tag => 'baseline')""") // gen 5
      s.sql("""CALL graft_cat.system.expire_snapshots(
        table => 'default.tag20_t', retain => 1)""") // gen 6
      require(!vExists(1L),
        "a dropped tag's generation must rejoin ordinary retention")
      val eDropped = intercept(
        s.read.format("graft-delim")
          .schema("o_orderkey BIGINT, o_totalprice DOUBLE")
          .option("tagAsOf", "baseline").load(t).count())
      require(eDropped.exists(_.contains("no snapshot tag")),
        s"a dropped tag must fail loudly, got $eDropped")
      import s.implicits._
      Seq(("baseline", base.getLong(0), base.getLong(1)),
        ("current", cur.getLong(0), cur.getLong(1)))
        .toDF("slice", "n_rows", "key_sig")
    },
    // PER-ROOT MANIFESTS FOR MULTI-ROOT READS: a union over table
    // roots where any carries a live merge-on-read tombstone
    // (generation numbers are only meaningful within one lineage — a
    // flattened tombstone set would delete the wrong rows) works
    // because every listed file carries its
    // root, and each root's tombstones apply to exactly its own
    // files. The requires pin the mechanism: the listing tracks the
    // tombstone under ONE root only, the even-key table keeps rows the
    // odd-key table's delete predicate ALSO matches (same generation
    // number on both lineages — the flattened design's failure case),
    // and the union matches the oracle.
    Cert.scratch("delim_v2_multiroot_mor",
      // even keys all survive; odd keys lose the delete predicate's rows
      """SELECT count(*) AS n_rows,
        |       CAST(sum(o_orderkey) AS BIGINT) AS key_sig,
        |       round(sum(o_totalprice), 2) AS revenue
        |FROM orders
        |WHERE o_orderkey % 2 = 0
        |   OR (o_orderkey % 2 = 1 AND NOT o_totalprice > 100000.0)""".stripMargin) { (s, dir, out) =>
      import graft.sources.v2.DelimV2
      graft.core.Scratch.rmTree(out)
      val orders = core.Tables.orders(s, dir)
        .select(col("o_orderkey"), col("o_totalprice"))
      def mk(name: String, t: String, residue: Int): Unit = {
        s.sql(s"DROP TABLE IF EXISTS graft_cat.default.$name")
        s.sql(s"""CREATE TABLE graft_cat.default.$name
          (o_orderkey BIGINT, o_totalprice DOUBLE)
          USING `graft-delim` LOCATION '$t'""")
        orders.filter(col("o_orderkey") % 2 === residue)
          .writeTo(s"graft_cat.default.$name").append()
      }
      mk("mra20_t", s"$out/a", 0)
      mk("mrb20_t", s"$out/b", 1)
      // the delete predicate matches rows in BOTH tables, at the SAME
      // generation number in both lineages — only B's rows may go
      s.sql("""DELETE FROM graft_cat.default.mrb20_t
        WHERE o_totalprice > 100000.0""")
      val snap = DelimV2.listSnapshot(Seq(s"$out/a", s"$out/b"),
        s.sessionState.newHadoopConf())
      require(snap.rootTombstones.size == 1 &&
        snap.rootTombstones.head._1.endsWith("/b"),
        s"the tombstone must stay scoped to root b: ${snap.rootTombstones
          .map(_._1)}")
      require(snap.files.forall(_.root != null) &&
        snap.files.map(_.root).distinct.size == 2,
        "every listed file must carry its root")
      s.read.format("graft-delim")
        .schema("o_orderkey BIGINT, o_totalprice DOUBLE")
        .option("paths", s"$out/a,$out/b").load()
        .agg(count(lit(1)).as("n_rows"),
          sum(col("o_orderkey")).as("key_sig"),
          round(sum(col("o_totalprice")), 2).as("revenue"))
    },
    // SEGMENT PRUNING ON ANY PARTITION COLUMN: a segmented manifest
    // that pruned segment loads only on the LEADING partition column
    // (lexicographic [minRel,maxRel] prefix test) would make a k1/k2
    // table filtered on k2 parse the whole index. A segment spans
    // exactly one leaf partition directory, so its full k=v map reads
    // straight off the recorded rel paths — no format change — and a
    // pushed equality on ANY partition column now prunes at listing
    // time. The requires pin it: a k2-only equality on a table
    // partitioned by (k1, k2) loads < 20% of the segments, and the
    // content matches the oracle both sliced and whole.
    Cert.scratch("delim_v2_manifest_segmented_k2",
      // the k2 residue is (o_orderkey // 4) % 8 — DuckDB integer division
      """SELECT 'b3' AS slice, count(*) AS n_rows,
        |       CAST(sum(o_orderkey) AS BIGINT) AS key_sig
        |FROM orders WHERE (o_orderkey // 4) % 8 = 3
        |UNION ALL
        |SELECT 'all', count(*), CAST(sum(o_orderkey) AS BIGINT)
        |FROM orders""".stripMargin) { (s, dir, out) =>
      val t = s"$out/t"
      graft.core.Scratch.rmTree(t)
      core.Tables.orders(s, dir)
        .select(col("o_orderkey"),
          format_string("a%d", col("o_orderkey") % 4).as("k1"),
          format_string("b%d", (col("o_orderkey") / 4).cast("long") % 8)
            .as("k2"))
        .coalesce(1).write.format("graft-delim")
        .option("partitionBy", "k1,k2")
        .option("manifestSegmentSize", "8")
        .mode("overwrite").save(t)
      val hp = new org.apache.hadoop.fs.Path(t)
      val fs = hp.getFileSystem(s.sessionState.newHadoopConf())
      val doc = {
        val in = fs.open(new org.apache.hadoop.fs.Path(t, DelimLog.ManifestFile))
        try scala.io.Source.fromInputStream(in, "UTF-8").mkString
        finally in.close()
      }
      require(doc.contains("#segment\t"),
        "fixture must commit a segmented index")
      val nSegs = doc.linesIterator.count(_.startsWith("#segment\t"))
      require(nSegs == 32, s"expected 32 leaf-partition segments, got $nSegs")
      // equality on the SECOND partition column only
      val b3Df = s.read.format("graft-delim")
        .schema("o_orderkey BIGINT, k1 STRING, k2 STRING").load(t)
        .filter(col("k2") === "b3")
        .agg(count(lit(1)).as("n"), sum(col("o_orderkey")).as("sig"))
      val b3 = b3Df.collect()(0)
      val DelimScanMetrics(_, _, _, _, total, read) = DelimScanMetrics.one(b3Df)
      require(read >= 1 && read * 5 <= total,
        s"a k2-only equality must load < 20% of segments, read $read of $total")
      val full = s.read.format("graft-delim")
        .schema("o_orderkey BIGINT, k1 STRING, k2 STRING").load(t)
        .agg(count(lit(1)).as("n"), sum(col("o_orderkey")).as("sig"))
        .collect()(0)
      import s.implicits._
      Seq(("b3", b3.getLong(0), b3.getLong(1)),
        ("all", full.getLong(0), full.getLong(1)))
        .toDF("slice", "n_rows", "key_sig")
    },
    // SCOPED TOMBSTONE SUPPRESSION of metadata aggregates: disabling
    // the stats-complete COUNT/MIN/MAX path for the WHOLE table on any
    // live tombstone would make a delta-MERGE workload pay
    // scan-for-count on every untouched partition until OPTIMIZE. A
    // tombstone can touch a file only when the file's generation is at
    // or before the tombstone's AND no partition-only conjunct of its
    // predicate contradicts the file's k=v values. The requires pin
    // both sides with a LIVE tombstone on partition 'F': the same
    // aggregate over untouched partition 'O' is answered stats-
    // complete with ZERO data reads (plan marker + the executed scan's
    // kept/splits metrics), while over the tombstoned partition 'F' it
    // correctly declines the metadata path and excludes the deleted rows.
    Cert.scratch("delim_v2_stats_agg_mor",
      // the tombstone suppresses only the F partition's metadata path;
      // results both sides recompute directly from orders
      """SELECT
        |  (SELECT count(*) FROM orders WHERE o_orderstatus = 'O') AS o_rows,
        |  (SELECT min(o_orderkey) FROM orders WHERE o_orderstatus = 'O') AS o_min_key,
        |  (SELECT max(o_orderkey) FROM orders WHERE o_orderstatus = 'O') AS o_max_key,
        |  (SELECT count(*) FROM orders
        |     WHERE o_orderstatus = 'F' AND NOT o_totalprice > 100000.0) AS f_rows,
        |  (SELECT min(o_orderkey) FROM orders
        |     WHERE o_orderstatus = 'F' AND NOT o_totalprice > 100000.0) AS f_min_key,
        |  (SELECT max(o_orderkey) FROM orders
        |     WHERE o_orderstatus = 'F' AND NOT o_totalprice > 100000.0) AS f_max_key,
        |  (SELECT round(sum(o_totalprice), 2) FROM orders
        |     WHERE o_orderstatus = 'F' AND NOT o_totalprice > 100000.0) AS f_revenue""".stripMargin) { (s, dir, out) =>
      val t = s"$out/t"
      graft.core.Scratch.rmTree(t)
      s.sql("DROP TABLE IF EXISTS graft_cat.default.sam20_t")
      s.sql(s"""CREATE TABLE graft_cat.default.sam20_t
        (o_orderkey BIGINT, o_totalprice DOUBLE, o_orderstatus STRING)
        USING `graft-delim` PARTITIONED BY (o_orderstatus) LOCATION '$t'""")
      core.Tables.orders(s, dir)
        .select(col("o_orderkey"), col("o_totalprice"), col("o_orderstatus"))
        .writeTo("graft_cat.default.sam20_t").append()
      // a LIVE merge-on-read tombstone scoped to partition F (the
      // predicate's partition conjunct makes it provably inert for
      // every other partition's files)
      s.sql("""DELETE FROM graft_cat.default.sam20_t
        WHERE o_orderstatus = 'F' AND o_totalprice > 100000.0""")
      val hp = new org.apache.hadoop.fs.Path(t)
      val fs = hp.getFileSystem(s.sessionState.newHadoopConf())
      val m = DelimLog.readManifest(fs, hp).get
      require(m.tombstones.size == 1,
        s"fixture expects one live tombstone, got ${m.tombstones.size}")
      def tbl = s.read.format("graft-delim")
        .schema("o_orderkey BIGINT, o_totalprice DOUBLE, o_orderstatus STRING")
        .load(t)
      def agg(status: String) = tbl
        .filter(col("o_orderstatus") === status)
        .agg(count(lit(1)).as("n_rows"),
          min(col("o_orderkey")).as("min_key"),
          max(col("o_orderkey")).as("max_key"))
      // untouched partition: stats-complete, zero data reads
      val oDf = agg("O")
      val oPlan = oDf.queryExecution.executedPlan.toString
      require(oPlan.contains("PushedAggregation: [stats-complete]"),
        "aggregate over the untouched partition must stay stats-served " +
          s"under a live tombstone on another partition:\n$oPlan")
      val oRow = oDf.collect()(0)
      val DelimScanMetrics(_, _, kept, splits, _, _) = DelimScanMetrics.one(oDf)
      require(kept == 0 && splits == 1,
        s"stats-complete aggregate opened data files: kept=$kept splits=$splits")
      // tombstoned partition: the metadata path must DECLINE (counts
      // would include deleted rows) and the scan excludes them
      val fDf = agg("F")
      require(!fDf.queryExecution.executedPlan.toString
          .contains("PushedAggregation: [stats-complete]"),
        "aggregate over the tombstoned partition must not be stats-served")
      val fRow = fDf.collect()(0)
      // the deleted rows' revenue is gone from a full scan too
      val fRev = tbl.filter(col("o_orderstatus") === "F")
        .agg(round(sum(col("o_totalprice")), 2)).collect()(0).getDouble(0)
      import s.implicits._
      Seq((oRow.getLong(0), oRow.getLong(1), oRow.getLong(2),
        fRow.getLong(0), fRow.getLong(1), fRow.getLong(2), fRev))
        .toDF("o_rows", "o_min_key", "o_max_key",
          "f_rows", "f_min_key", "f_max_key", "f_revenue")
    }
  )
}
