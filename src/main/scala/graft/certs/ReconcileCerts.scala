package graft
package certs

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.FormattedMode
import org.apache.spark.sql.functions._

import graft.core.{Delim, Fingerprint, Layout, PartitionCounts, Reconcile,
  Reports, Sample, Tables, Warehouse}
import graft.ext.Scd2

import CertSupport._

/** Reconciliation and warehouse certifications: per-partition counts,
  * source-vs-target reports, order-insensitive digests, the report and
  * export sinks read back, and the warehouse maintenance verbs (MERGE,
  * SCD2, CDC, compaction, incremental rollups, catalog lifecycle).
  */
object ReconcileCerts {

  /** Deterministic target-side perturbation for reconcile/integrity
    * demos: drop rows of every 97th order within the 'R' return flag.
    * SQL-expressible so the same relation is reproducible in DuckDB.
    */
  private def perturbed(li: DataFrame): DataFrame =
    li.filter(!(col("l_returnflag") === "R" && col("l_orderkey") % 97 === 0))

  private val SampleOracle =
    """SELECT * FROM lineitem
      |ORDER BY l_discount, l_extendedprice, l_linenumber, l_linestatus,
      |         l_orderkey, l_partkey, l_quantity, l_returnflag, l_shipdate,
      |         l_suppkey, l_tax
      |LIMIT 10""".stripMargin

  private val JdbcReconcileOracle =
    """WITH a AS (
      |  SELECT o_orderkey, o_orderstatus, o_totalprice
      |  FROM orders WHERE o_custkey < 500),
      |b AS (
      |  SELECT o_orderkey, o_orderstatus,
      |         CASE WHEN o_orderkey % 53 = 0 THEN o_totalprice * 1.1
      |              ELSE o_totalprice END AS o_totalprice
      |  FROM orders WHERE o_custkey < 500 AND o_orderkey % 97 <> 0)
      |SELECT coalesce(a.o_orderstatus, b.o_orderstatus) AS o_orderstatus,
      |       CAST(sum(CASE WHEN a.o_orderkey IS NOT NULL
      |                      AND b.o_orderkey IS NOT NULL
      |                      AND a.o_totalprice = b.o_totalprice
      |                     THEN 1 ELSE 0 END) AS BIGINT) AS n_match,
      |       CAST(sum(CASE WHEN a.o_orderkey IS NOT NULL
      |                      AND b.o_orderkey IS NOT NULL
      |                      AND a.o_totalprice <> b.o_totalprice
      |                     THEN 1 ELSE 0 END) AS BIGINT) AS n_mismatch,
      |       CAST(sum(CASE WHEN b.o_orderkey IS NULL THEN 1 ELSE 0 END)
      |            AS BIGINT) AS n_only_remote,
      |       CAST(sum(CASE WHEN a.o_orderkey IS NULL THEN 1 ELSE 0 END)
      |            AS BIGINT) AS n_only_local
      |FROM a FULL JOIN b ON a.o_orderkey = b.o_orderkey
      |GROUP BY 1""".stripMargin

  private val ReconcileReportOracle =
    s"""WITH src AS (SELECT 'lineitem' AS table_name,
       |                    'l_returnflag=' || l_returnflag AS partition_spec,
       |                    count(*) AS src_cnt FROM lineitem GROUP BY 1, 2),
       |     tgt AS (SELECT 'lineitem' AS table_name,
       |                    'l_returnflag=' || l_returnflag AS partition_spec,
       |                    count(*) AS tgt_cnt FROM lineitem
       |             WHERE NOT (l_returnflag = 'R' AND l_orderkey % 97 = 0)
       |             GROUP BY 1, 2)
       |SELECT coalesce(s.table_name, t.table_name) AS table_name,
       |       coalesce(s.partition_spec, t.partition_spec) AS partition_spec,
       |       s.src_cnt, t.tgt_cnt,
       |       CASE WHEN s.src_cnt IS NULL THEN 'missing_in_source'
       |            WHEN t.tgt_cnt IS NULL THEN 'missing_in_target'
       |            WHEN s.src_cnt = t.tgt_cnt THEN 'matched'
       |            ELSE 'mismatched' END AS status
       |FROM src s FULL JOIN tgt t
       |  ON s.table_name = t.table_name
       | AND s.partition_spec IS NOT DISTINCT FROM t.partition_spec""".stripMargin

  val all: Seq[Cert] = Seq(
    // S1 analogue: partition-value discovery as a distinct projection
    // (the generic form of SHOW PARTITIONS for path tables).
    Cert("show_partitions",
      "SELECT DISTINCT l_returnflag, l_linestatus FROM lineitem") { (s, dir) =>
      Tables.lineitem(s, dir)
        .select(col("l_returnflag"), col("l_linestatus")).distinct()
    },
    // A2 with multi-level partitions — the case the reference mis-parses
    // (SURVEY.md §7.4 #3): one aggregation, spec rendered k1=v1/k2=v2.
    Cert("rowcount_multilevel",
      """SELECT 'lineitem' AS table_name,
        |       'l_returnflag=' || l_returnflag ||
        |       '/l_linestatus=' || l_linestatus AS partition_spec,
        |       count(*) AS cnt
        |FROM lineitem GROUP BY 1, 2""".stripMargin) { (s, dir) =>
      PartitionCounts.perPartition(Tables.lineitem(s, dir), "lineitem",
          Seq("l_returnflag", "l_linestatus"))
        .withColumnRenamed("table", "table_name")
        .withColumnRenamed("partition", "partition_spec")
    },
    // A3 at TWO partition levels (SURVEY.md §7.4.3's Map[String,String]
    // spec): the UC#2 fingerprint reconcile over a dt×hr-style grouping
    // — ~720 (day, hour) cells at sf0.01, each carrying the
    // order-insensitive (count, bit_xor(xxhash64)) digest, one shuffle
    // for the whole comparison exactly like the single-level form. The
    // deterministic perturbation (every 13th error event dropped from
    // the target) makes cells inconsistent exactly where the oracle
    // recomputes a count difference; the digest catches content drift
    // the count alone would miss (pinned in FingerprintSpec).
    Cert("integrity_multilevel",
      // the perturbed target is a subset of the source within each
      // (dt, hr) cell, so multiset equality <=> equal counts — the same
      // shortcut as integrity_by_partition, now over two partition levels.
      // LEFT JOIN (not inner): a cell whose rows are ALL removed by the
      // perturbation still appears in Fingerprint.compare's full-outer
      // output with tgt_cnt NULL / consistent false — mirror that instead
      // of silently shrinking the compared set if the fixture ever yields
      // such a cell.
      """WITH src AS (
        |  SELECT CAST(ts AS DATE) AS dt, hour(ts) AS hr, count(*) AS src_cnt
        |  FROM events GROUP BY 1, 2),
        |tgt AS (
        |  SELECT CAST(ts AS DATE) AS dt, hour(ts) AS hr, count(*) AS tgt_cnt
        |  FROM events
        |  WHERE NOT (event_type = 'error' AND event_id % 13 = 0)
        |  GROUP BY 1, 2)
        |SELECT s.dt, s.hr, s.src_cnt, t.tgt_cnt,
        |       COALESCE(s.src_cnt = t.tgt_cnt, FALSE) AS consistent
        |FROM src s LEFT JOIN tgt t ON s.dt = t.dt AND s.hr = t.hr""".stripMargin) { (s, dir) =>
      val ev = Tables.events(s, dir)
        .withColumn("dt", to_date(col("ts")))
        .withColumn("hr", hour(col("ts")))
      val tgt = ev.filter(
        !(col("event_type") === "error" && col("event_id") % 13 === 0))
      Fingerprint.compare(ev, tgt, Seq("dt", "hr"))
    },
    // CDC snapshot diff — the change-data-capture extraction shape: two
    // table snapshots, emit the delta as (op, key, old, new). The next
    // snapshot is DERIVED deterministically from the base (deletes:
    // key % 97, updates: status flip on key % 53, inserts: re-keyed
    // key % 89 rows), so both engines reconstruct identical inputs.
    // One full-outer sort-merge join on the key — the join that cannot
    // broadcast by definition — with changed-only output; unchanged
    // rows (the 100 TB majority) produce nothing downstream.
    Cert("cdc_snapshot_diff",
      """WITH base AS (SELECT o_orderkey, o_orderstatus FROM orders),
        |next AS (
        |  SELECT o_orderkey,
        |         CASE WHEN o_orderkey % 53 = 0 THEN 'X'
        |              ELSE o_orderstatus END AS o_orderstatus
        |  FROM base WHERE o_orderkey % 97 <> 0
        |  UNION ALL
        |  SELECT o_orderkey + 1000000000, o_orderstatus
        |  FROM base WHERE o_orderkey % 89 = 0)
        |SELECT * FROM (
        |  SELECT CASE WHEN n.o_orderkey IS NULL THEN 'delete'
        |              WHEN b.o_orderkey IS NULL THEN 'insert'
        |              WHEN b.o_orderstatus <> n.o_orderstatus THEN 'update'
        |              END AS op,
        |         coalesce(b.o_orderkey, n.o_orderkey) AS o_orderkey,
        |         b.o_orderstatus AS old_status,
        |         n.o_orderstatus AS new_status
        |  FROM base b FULL JOIN next n ON b.o_orderkey = n.o_orderkey)
        |WHERE op IS NOT NULL""".stripMargin) { (s, dir) =>
      val base = Tables.orders(s, dir).select("o_orderkey", "o_orderstatus")
      val next = base.filter(col("o_orderkey") % 97 =!= 0)
        .withColumn("o_orderstatus",
          when(col("o_orderkey") % 53 === 0, lit("X"))
            .otherwise(col("o_orderstatus")))
        .unionByName(base.filter(col("o_orderkey") % 89 === 0)
          .select((col("o_orderkey") + 1000000000L).as("o_orderkey"),
            col("o_orderstatus")))
      val b = base.select(col("o_orderkey").as("bk"),
        col("o_orderstatus").as("old_status"))
      val n = next.select(col("o_orderkey").as("nk"),
        col("o_orderstatus").as("new_status"))
      b.join(n, col("bk") === col("nk"), "full_outer")
        .select(
          when(col("nk").isNull, "delete")
            .when(col("bk").isNull, "insert")
            .when(col("old_status") =!= col("new_status"), "update")
            .as("op"),
          coalesce(col("bk"), col("nk")).as("o_orderkey"),
          col("old_status"), col("new_status"))
        .filter(col("op").isNotNull)
    },
    // Small-file compaction — the table-maintenance pass every landing
    // directory needs: N small files bin-packed into ceil(bytes/target)
    // rewritten files, content untouched. Eager by design (the rewrite
    // IS the operator); the requires pin the file-count collapse and
    // the read-back is certified against the source content by the
    // oracle. At 100 TB this runs per partition directory (the same
    // dynamic-partition-overwrite scoping as Warehouse.mergeByKey), so
    // the repartition shuffle is bounded by one partition's volume, not
    // the table's.
    Cert.scratch("compact_small_files",
      """SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice
        |FROM lineitem WHERE l_returnflag = 'R'""".stripMargin) { (s, dir, out) =>
      val src = Tables.lineitem(s, dir).filter(col("l_returnflag") === "R")
        .select("l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice")
      src.repartition(64).write.mode("overwrite").parquet(s"$out/fragmented")
      def dataFiles(p: String): Seq[org.apache.hadoop.fs.FileStatus] = {
        val path = new org.apache.hadoop.fs.Path(p)
        val fs = path.getFileSystem(s.sessionState.newHadoopConf())
        fs.listStatus(path).toSeq
          .filter(st => st.isFile && !st.getPath.getName.startsWith("_"))
      }
      val frag = dataFiles(s"$out/fragmented")
      require(frag.size == 64, s"expected 64 fragment files, got ${frag.size}")
      val targetBytes = 1L << 20
      val nOut = math.max(1L, (frag.map(_.getLen).sum + targetBytes - 1) / targetBytes).toInt
      s.read.parquet(s"$out/fragmented")
        .repartition(nOut)
        .write.mode("overwrite").parquet(s"$out/compacted")
      val compacted = dataFiles(s"$out/compacted")
      require(compacted.size <= nOut && compacted.size * 4 <= frag.size,
        s"compaction did not collapse the file count: ${frag.size} -> ${compacted.size}")
      s.read.parquet(s"$out/compacted")
    },
    // Incremental rollup maintenance — keep a month-level aggregate
    // store current by merging ONLY the new delta's aggregate into it,
    // never rescanning history. The store is built from the pre-cutoff
    // history (eager, parquet); the query aggregates the delta alone
    // and re-aggregates store ∪ delta on the month key. Correctness
    // gate: the oracle recomputes the rollup from ALL rows — the
    // incremental path must land on the full-recompute answer. COUNT
    // and SUM re-aggregate losslessly (the same algebraic-aggregate
    // property the CMS/HLL sketches extend to approximate state); at
    // 100 TB the delta scan is a day's partition, not seven years.
    Cert.scratch("rollup_incremental",
      // the DOUBLE cast matters for the SQL-surface differential: Spark
      // parses the bare literal 100.0 as DECIMAL (BIGINT/DECIMAL →
      // DECIMAL with trailing zeros) while DuckDB and the DataFrame
      // path divide as doubles
      """SELECT date_trunc('month', o_orderdate) AS om,
        |       count(*) AS n_orders,
        |       CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
        |            AS DOUBLE) / 100.0 AS sum_price
        |FROM orders GROUP BY 1""".stripMargin) { (s, dir, out) =>
      val cutoff = "2001-06-01"
      val orders = Tables.orders(s, dir)
      // prices quantized to integer CENTS before any aggregation: the
      // store-then-reaggregate sum is then exact integer arithmetic in
      // any re-aggregation order (a stored double sum re-summed would
      // sit an order-dependent ulp away from the full recompute and
      // could flip the hash-exact oracle at a rounding boundary — the
      // same quantize-first discipline as events_anomaly_mad)
      def monthly(df: DataFrame): DataFrame =
        df.groupBy(date_trunc("month", col("o_orderdate")).as("om"))
          .agg(count(lit(1)).as("n_orders"),
            sum(expr("CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)"))
              .as("sum_cents"))
      val store = out + "/store"
      monthly(orders.filter(col("o_orderdate") < lit(cutoff)))
        .write.mode("overwrite").parquet(store)
      s.read.parquet(store)
        .unionByName(monthly(orders.filter(col("o_orderdate") >= lit(cutoff))))
        .groupBy("om")
        .agg(sum("n_orders").as("n_orders"),
          (sum("sum_cents") / 100.0).as("sum_price"))
    },
    // Catalog-table partition lifecycle — the reference's actual DDL
    // idiom (`INSERT OVERWRITE TABLE ... PARTITION(...)`,
    // verizon_automation_script.sh's loaders) through Spark's REAL
    // session catalog instead of path-based writes: CREATE a
    // partitioned datasource table, dynamic-load it, then correct ONE
    // month with a STATIC partition overwrite (`PARTITION (om='...')`)
    // — which must rewrite only that directory. The requires pin the
    // catalog's partition tracking (SHOW PARTITIONS) and the physical
    // scoping (an untouched month's file snapshot is byte-identical
    // across the correction — same witness as warehouse_merge_upsert).
    // Eager by design: the INSERTs are the operator.
    Cert("catalog_partition_lifecycle",
      """WITH src AS (
        |  SELECT o_orderkey, o_totalprice,
        |         strftime(o_orderdate, '%Y-%m') AS om
        |  FROM orders),
        |fin AS (
        |  SELECT om, o_totalprice FROM src WHERE om <> '2001-06'
        |  UNION ALL
        |  SELECT om, o_totalprice * 1.1 FROM src WHERE om = '2001-06')
        |SELECT om, count(*) AS n_orders,
        |       round(sum(o_totalprice), 2) AS sum_price
        |FROM fin GROUP BY om""".stripMargin) { (s, dir) =>
      val wh = scratchDir("catalog_lifecycle")
      // drop BEFORE wiping the location: a stale catalog entry over a
      // deleted directory makes the drop's table resolution log
      // FileNotFound noise
      s.sql("DROP TABLE IF EXISTS graft_orders_cat")
      graft.core.Scratch.rmTree(wh)
      // CREATE TABLE lists its LOCATION for schema/partition discovery
      // and logs FileNotFound when it does not exist yet
      java.nio.file.Files.createDirectories(
        java.nio.file.Paths.get(s"$wh/orders_cat"))
      s.sql(
        s"""CREATE TABLE graft_orders_cat
           |  (o_orderkey BIGINT, o_totalprice DOUBLE, om STRING)
           |USING parquet PARTITIONED BY (om)
           |LOCATION '$wh/orders_cat'""".stripMargin)
      Tables.orders(s, dir)
        .select(col("o_orderkey"), col("o_totalprice"),
          date_format(col("o_orderdate"), "yyyy-MM").as("om"))
        .createOrReplaceTempView("graft_orders_src")
      // REPARTITION(om) clusters the insert's tasks by partition value:
      // one file per partition directory instead of (tasks × partitions)
      // small files — the layout practice a 100 TB dynamic-partition
      // load needs (and what keeps compact_small_files rare)
      s.sql(
        """INSERT OVERWRITE TABLE graft_orders_cat PARTITION (om)
          |SELECT /*+ REPARTITION(om) */ o_orderkey, o_totalprice, om
          |FROM graft_orders_src""".stripMargin)
      val calmBefore = core.Warehouse.partitionFileSnapshot(
        s"$wh/orders_cat", "om", "1997-03")
      require(calmBefore.nonEmpty, "fixture month 1997-03 missing")
      s.sql(
        """INSERT OVERWRITE TABLE graft_orders_cat PARTITION (om = '2001-06')
          |SELECT o_orderkey, o_totalprice * 1.1 FROM graft_orders_src
          |WHERE om = '2001-06'""".stripMargin)
      require(core.Warehouse.partitionFileSnapshot(
          s"$wh/orders_cat", "om", "1997-03") == calmBefore,
        "static partition overwrite touched an unrelated partition")
      val nParts = s.sql("SHOW PARTITIONS graft_orders_cat").count()
      require(nParts >= 70,
        s"catalog lost partition tracking: $nParts partitions")
      s.sql(
        """SELECT om, count(*) AS n_orders,
          |       round(sum(o_totalprice), 2) AS sum_price
          |FROM graft_orders_cat GROUP BY om""".stripMargin)
    },
    // Remote-warehouse reconcile over JDBC — the reference's ACTUAL job
    // shape (two live warehouse connections, configuration.properties
    // host/port/user/password per side) through a real network
    // endpoint: side A is read back from an in-process HiveServer2 via
    // `spark.read.jdbc` as 8 range-sliced remote queries (stride
    // partitioning on o_orderkey), side B is the local table with a
    // deterministic drift (keys %97 missing, prices %53 corrected) so
    // both engines reconstruct identical inputs. The requires pin what
    // matters at 100 TB: the o_custkey predicate is PUSHED into the
    // remote scan (GraftHiveDialect backtick quoting makes that sound —
    // the default dialect's double quotes would turn it into a string
    // literal server-side) and the scan is genuinely partitioned.
    // Downstream is the canonical full-outer reconcile keyed on
    // o_orderkey.
    Cert("reconcile_jdbc",
      JdbcReconcileOracle) { (s, dir) =>
      import graft.sources.JdbcWarehouse
      val port = JdbcWarehouse.ensureServer(s)
      val orders = Tables.orders(s, dir)
        .select("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice")
      val tbl = JdbcWarehouse.publish(orders, "graft_jdbc_orders")
      val bounds = orders.agg(min("o_orderkey"), max("o_orderkey")).head
      // Client slice count derived from the SCHEDULER SIZE:
      // the in-process endpoint executes each slice's statement as Spark
      // jobs in THIS scheduler, so client scan tasks that fill every
      // task slot starve the server side of slots — a hard resource
      // DEADLOCK, hit by the 8-core scaling bench with the
      // previous constant 8 (the run died hung inside a
      // thrift statement; thread dump: 8 JDBCRDD tasks parked in
      // waitForOperationToComplete, 8 server statements queued with zero
      // free slots). A quarter of the pool keeps the 32-core value at
      // the certified 8 slices and leaves the server side headroom at
      // any size; on a real two-warehouse deployment the server runs
      // elsewhere and the constraint disappears.
      val parts = math.min(8, math.max(1, s.sparkContext.defaultParallelism / 4))
      val remote = JdbcWarehouse.readTable(s, port, tbl,
          "o_orderkey", bounds.getLong(0), bounds.getLong(1) + 1, parts)
        .filter(col("o_custkey") < 500)
      val plan = remote.queryExecution.explainString(FormattedMode)
      require("PushedFilters: \\[[^\\]]*o_custkey"
          .r.findFirstIn(plan).isDefined,
        s"o_custkey predicate not pushed into the JDBC scan:\n$plan")
      require(plan.contains(s"numPartitions=$parts"),
        s"JDBC scan is not range-partitioned:\n$plan")
      val a = remote.select(col("o_orderkey").as("ak"),
        col("o_orderstatus").as("a_status"), col("o_totalprice").as("a_price"))
      val b = orders.filter(col("o_custkey") < 500)
        .filter(col("o_orderkey") % 97 =!= 0)
        .select(col("o_orderkey").as("bk"),
          col("o_orderstatus").as("b_status"),
          when(col("o_orderkey") % 53 === 0, col("o_totalprice") * 1.1)
            .otherwise(col("o_totalprice")).as("b_price"))
      a.join(b, col("ak") === col("bk"), "full_outer")
        .groupBy(coalesce(col("a_status"), col("b_status")).as("o_orderstatus"))
        .agg(
          sum(when(col("ak").isNotNull && col("bk").isNotNull &&
            col("a_price") === col("b_price"), 1L).otherwise(0L)).as("n_match"),
          sum(when(col("ak").isNotNull && col("bk").isNotNull &&
            col("a_price") =!= col("b_price"), 1L).otherwise(0L)).as("n_mismatch"),
          sum(when(col("bk").isNull, 1L).otherwise(0L)).as("n_only_remote"),
          sum(when(col("ak").isNull, 1L).otherwise(0L)).as("n_only_local"))
    },
    // TRUE two-connection reconcile: BOTH
    // sides arrive over live JDBC — two independent connections with
    // their own credentials, their own pushed predicate, and their own
    // range slicing (8 vs 6 partitions), reading two different
    // warehouse tables (side B is published already-drifted, so the
    // drift lives server-side like a real divergent replica). One
    // in-process endpoint serves both connections — a JVM can host
    // exactly one HiveServer2 (Hive service singletons; probed) — but
    // the engine-side path is identical to two hosts: two separate
    // spark.read.jdbc scans, nothing shared but the session.
    // SCHEDULER NOTE (advisor): the client-side scan tasks and the
    // server-side query tasks share this one scheduler, so client
    // parallelism (8 + 6) must stay below the pool size (32 here) or
    // the remote queries starve behind their own consumers — on a real
    // two-warehouse deployment the server side runs elsewhere and the
    // constraint disappears.
    Cert("reconcile_jdbc_dual",
      // identical relation to reconcile_jdbc's oracle: moving side B
      // behind its own JDBC connection must not change the reconcile
      JdbcReconcileOracle) { (s, dir) =>
      import graft.sources.JdbcWarehouse
      val port = JdbcWarehouse.ensureServer(s)
      val orders = Tables.orders(s, dir)
        .select("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice")
      val drifted = orders.filter(col("o_orderkey") % 97 =!= 0)
        .withColumn("o_totalprice",
          when(col("o_orderkey") % 53 === 0, col("o_totalprice") * 1.1)
            .otherwise(col("o_totalprice")))
      val tblA = JdbcWarehouse.publish(orders, "graft_jdbc_dual_a")
      val tblB = JdbcWarehouse.publish(drifted, "graft_jdbc_dual_b")
      val bounds = orders.agg(min("o_orderkey"), max("o_orderkey")).head
      def remote(tbl: String, user: String, parts: Int): DataFrame =
        JdbcWarehouse.readTable(s, port, tbl, "o_orderkey",
            bounds.getLong(0), bounds.getLong(1) + 1, parts,
            user = user, password = user)
          .filter(col("o_custkey") < 500)
      // slice counts derived from the scheduler size (see
      // reconcile_jdbc: client tasks that fill the pool deadlock the
      // in-process server side; 32 cores keeps the certified 8 vs 6)
      val pool = s.sparkContext.defaultParallelism
      val partsA = math.min(8, math.max(1, pool / 4))
      val partsB = math.min(6, math.max(1, pool * 3 / 16))
      val a = remote(tblA, "warehouse_a", partsA)
      val b = remote(tblB, "warehouse_b", partsB)
      for ((df, parts, side) <- Seq((a, partsA, "A"), (b, partsB, "B"))) {
        val plan = df.queryExecution.explainString(FormattedMode)
        require("PushedFilters: \\[[^\\]]*o_custkey".r.findFirstIn(plan)
            .isDefined, s"side $side predicate not pushed:\n$plan")
        require(plan.contains(s"numPartitions=$parts"),
          s"side $side scan is not range-partitioned:\n$plan")
      }
      val aa = a.select(col("o_orderkey").as("ak"),
        col("o_orderstatus").as("a_status"), col("o_totalprice").as("a_price"))
      val bb = b.select(col("o_orderkey").as("bk"),
        col("o_orderstatus").as("b_status"), col("o_totalprice").as("b_price"))
      aa.join(bb, col("ak") === col("bk"), "full_outer")
        .groupBy(coalesce(col("a_status"), col("b_status")).as("o_orderstatus"))
        .agg(
          sum(when(col("ak").isNotNull && col("bk").isNotNull &&
            col("a_price") === col("b_price"), 1L).otherwise(0L)).as("n_match"),
          sum(when(col("ak").isNotNull && col("bk").isNotNull &&
            col("a_price") =!= col("b_price"), 1L).otherwise(0L)).as("n_mismatch"),
          sum(when(col("bk").isNull, 1L).otherwise(0L)).as("n_only_remote"),
          sum(when(col("ak").isNull, 1L).otherwise(0L)).as("n_only_local"))
    },
    // Incremental view maintenance for a JOIN view (X8 depth): the
    // denormalized orders ⋈ customer view is maintained from a DELTA
    // batch alone — deletes drop keys, updates/inserts re-join ONLY
    // the delta rows against the dimension — instead of recomputing
    // the join over the full fact table. Deterministic delta: keys
    // %103 deleted, %101 repriced ×1.05, and a synthetic insert tier
    // (key + 10⁹, segment customer 1). The oracle recomputes the
    // final state from scratch — the incremental path must equal the
    // full recompute exactly. Scale shape: the maintenance cost is
    // |Δ| joined against a broadcast dim + one store rewrite (at
    // 100 TB the store is partitioned and only touched partitions
    // rewrite, same scoping as Warehouse.mergeByKey); the require
    // pins that the delta-side join is broadcast (dim side), so the
    // fact-sized view never reshuffles.
    Cert.scratch("warehouse_ivm_join",
      // full recompute of the post-delta state: the incremental path
      // must equal it exactly
      """WITH final_orders AS (
        |  SELECT o_orderkey, o_custkey,
        |         CASE WHEN o_orderkey % 101 = 0
        |              THEN o_totalprice + 1.0
        |              ELSE o_totalprice END AS o_totalprice
        |  FROM orders
        |  WHERE NOT (o_orderkey % 103 = 0 AND o_orderkey % 101 <> 0)
        |  UNION ALL
        |  SELECT o_orderkey + 1000000000, 1, o_totalprice
        |  FROM orders WHERE o_orderkey % 101 = 0)
        |SELECT c.c_mktsegment, count(*) AS n_rows,
        |       round(sum(f.o_totalprice), 2) AS sum_price
        |FROM final_orders f JOIN customer c ON f.o_custkey = c.c_custkey
        |GROUP BY 1""".stripMargin) { (s, dir, out) =>
      val cust = Tables.customer(s, dir)
        .select(col("c_custkey"), col("c_mktsegment"))
      val orders = Tables.orders(s, dir)
        .select("o_orderkey", "o_custkey", "o_totalprice")
      def joined(o: DataFrame): DataFrame =
        o.join(broadcast(cust), col("o_custkey") === col("c_custkey"))
          .select(col("o_orderkey"), col("o_custkey"),
            col("o_totalprice"), col("c_mktsegment"))
      // V0: the materialized view before the delta arrives
      joined(orders).write.mode("overwrite").parquet(s"$out/view")
      val v0 = s.read.parquet(s"$out/view")
      // the delta batch (upserts carry full rows; deletes carry keys;
      // the %101 exclusion keeps the delete and upsert key sets
      // disjoint — a key in both would be order-of-application
      // ambiguous, the classic IVM delta-normalization requirement)
      val deletes = orders.filter(col("o_orderkey") % 103 === 0 &&
          col("o_orderkey") % 101 =!= 0)
        .select(col("o_orderkey"))
      // reprice by an exact-in-double +1.00 (a fractional factor plus
      // per-row rounding flips penny boundaries between engines)
      val upserts = orders.filter(col("o_orderkey") % 101 === 0)
        .withColumn("o_totalprice", col("o_totalprice") + 1.0)
        .unionByName(orders.filter(col("o_orderkey") % 101 === 0)
          .select((col("o_orderkey") + lit(1000000000L)).as("o_orderkey"),
            lit(1L).as("o_custkey"), col("o_totalprice")))
      val dPlan = joined(upserts).queryExecution
        .explainString(FormattedMode)
      require(dPlan.contains("BroadcastHashJoin"),
        s"IVM delta join must broadcast the dimension:\n$dPlan")
      val touched = deletes.select("o_orderkey")
        .unionByName(upserts.select("o_orderkey")).distinct()
      val v1 = v0.join(touched, Seq("o_orderkey"), "left_anti")
        .unionByName(joined(upserts))
      v1.write.mode("overwrite").parquet(s"$out/view_next")
      s.read.parquet(s"$out/view_next")
        .groupBy("c_mktsegment")
        .agg(count(lit(1)).as("n_rows"),
          round(sum("o_totalprice"), 2).as("sum_price"))
    },
    // SQL MERGE INTO front door — the Warehouse.mergeByKey partition
    // discipline (warehouse_merge_upsert) expressed
    // as one SQL statement against a graft-delim catalog table,
    // executed by Spark's group-based copy-on-write rewrite over the
    // connector's row-level operation (DelimRowLevel): the runtime
    // group filter delivers matched files as an `In(_file, ...)` the
    // scan prunes at FILE level, so only the hot month's files are
    // read and rewritten. The require pins the partition scoping the
    // same way the API query does — the calm month's FILE survives
    // (name, length, mtime) — and the oracle recomputes the upsert
    // from parquet.
    Cert.scratch("warehouse_merge_sql",
      // the warehouse_merge_upsert derivation with the DATE cast the
      // delimited format's type set requires
      """WITH base AS (
        |  SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
        |         CAST(o_orderdate AS DATE) AS o_orderdate, o_orderpriority,
        |         strftime(o_orderdate, '%Y-%m') AS om
        |  FROM orders),
        |upd AS (
        |  SELECT o_orderkey, o_custkey, o_orderstatus,
        |         o_totalprice + 1.0 AS o_totalprice, o_orderdate,
        |         '0-CORRECTED' AS o_orderpriority, om
        |  FROM base WHERE om = '1995-03' AND o_orderkey % 7 = 0),
        |ins AS (
        |  SELECT o_orderkey + 100000000 AS o_orderkey, o_custkey,
        |         'I' AS o_orderstatus, o_totalprice, o_orderdate,
        |         o_orderpriority, om
        |  FROM base WHERE om = '1995-03' AND o_orderkey % 11 = 0),
        |changes AS (SELECT * FROM upd UNION ALL SELECT * FROM ins)
        |SELECT * FROM base b
        |WHERE NOT EXISTS (SELECT 1 FROM changes c
        |                  WHERE c.o_orderkey = b.o_orderkey)
        |UNION ALL
        |SELECT * FROM changes""".stripMargin) { (s, dir, out) =>
      graft.core.Scratch.rmTree(s"$out/t")
      s.sql("DROP TABLE IF EXISTS graft_cat.default.wm17_t")
      s.sql(s"""CREATE TABLE graft_cat.default.wm17_t
        (o_orderkey BIGINT, o_custkey BIGINT, o_orderstatus STRING,
         o_totalprice DOUBLE, o_orderdate DATE, o_orderpriority STRING,
         om STRING)
        USING `graft-delim` PARTITIONED BY (om) LOCATION '$out/t'""")
      val base = Tables.orders(s, dir)
        .withColumn("om", date_format(col("o_orderdate"), "yyyy-MM"))
        .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
          col("o_totalprice"), col("o_orderdate").cast("date").as("o_orderdate"),
          col("o_orderpriority"), col("om"))
      base.writeTo("graft_cat.default.wm17_t").append()
      val hot = "1995-03"
      val calm = "1997-01"
      val updates = base
        .filter(col("om") === hot && col("o_orderkey") % 7 === 0)
        .withColumn("o_orderpriority", lit("0-CORRECTED"))
        .withColumn("o_totalprice", col("o_totalprice") + lit(1.0))
      val inserts = base
        .filter(col("om") === hot && col("o_orderkey") % 11 === 0)
        .withColumn("o_orderkey", col("o_orderkey") + lit(100000000L))
        .withColumn("o_orderstatus", lit("I"))
      updates.unionByName(inserts).createOrReplaceTempView("wm17_delta")
      val calmBefore =
        graft.core.Warehouse.partitionFileSnapshot(s"$out/t", "om", calm)
      require(calmBefore.nonEmpty, s"fixture must populate month $calm")
      s.sql("""MERGE INTO graft_cat.default.wm17_t t
        USING wm17_delta d ON t.o_orderkey = d.o_orderkey
        WHEN MATCHED THEN UPDATE SET *
        WHEN NOT MATCHED THEN INSERT *""")
      require(
        graft.core.Warehouse.partitionFileSnapshot(s"$out/t", "om", calm)
          == calmBefore,
        s"SQL MERGE must not rewrite the unaffected partition om=$calm")
      s.sql("""SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
        |       o_orderdate, o_orderpriority, om
        |FROM graft_cat.default.wm17_t""".stripMargin)
    },
    // MERGE SCHEMA EVOLUTION: `MERGE WITH SCHEMA EVOLUTION` against a
    // WIDER source auto-adds the missing column (Spark's
    // ResolveMergeIntoSchemaEvolution → GraftCatalog.alterTable ADD
    // COLUMN) and the row-level write lands it across generations —
    // pre-evolution files read the new column as null through the
    // per-generation by-name mapping the connector already certifies
    // for ALTER TABLE. Matched rows get updated price + the new
    // column; untouched rows carry over with null; NOT MATCHED rows
    // insert with it.
    Cert.scratch("warehouse_merge_evolve",
      """SELECT o_orderkey,
        |       round(CASE WHEN o_orderkey % 3 = 0 THEN o_totalprice + 1.0
        |                  ELSE o_totalprice END, 2) AS price,
        |       CASE WHEN o_orderkey % 3 = 0 THEN o_orderpriority
        |            ELSE NULL END AS prio
        |FROM orders
        |UNION ALL
        |SELECT o_orderkey + 1000000000, round(o_totalprice, 2),
        |       o_orderpriority
        |FROM orders WHERE o_orderkey % 101 = 0""".stripMargin) { (s, dir, out) =>
      val t = s"$out/t"
      graft.core.Scratch.rmTree(t)
      s.sql("DROP TABLE IF EXISTS graft_cat.default.me18_t")
      s.sql(s"""CREATE TABLE graft_cat.default.me18_t
        (o_orderkey BIGINT, o_totalprice DOUBLE)
        USING `graft-delim` LOCATION '$t'""")
      val base = Tables.orders(s, dir)
        .select(col("o_orderkey"), col("o_totalprice"))
      base.writeTo("graft_cat.default.me18_t").append()
      // wider source: +o_orderpriority; updates every %3 key (exact
      // +1.0 reprice) and inserts shifted copies of the %101 keys
      val src = Tables.orders(s, dir)
        .filter(col("o_orderkey") % 3 === 0)
        .select(col("o_orderkey"),
          (col("o_totalprice") + lit(1.0)).as("o_totalprice"),
          col("o_orderpriority"))
        .unionByName(Tables.orders(s, dir)
          .filter(col("o_orderkey") % 101 === 0)
          .select((col("o_orderkey") + lit(1000000000L)).as("o_orderkey"),
            col("o_totalprice"), col("o_orderpriority")))
      src.createOrReplaceTempView("me18_src")
      s.sql("""MERGE WITH SCHEMA EVOLUTION INTO graft_cat.default.me18_t t
        USING me18_src d ON t.o_orderkey = d.o_orderkey
        WHEN MATCHED THEN UPDATE SET *
        WHEN NOT MATCHED THEN INSERT *""")
      val widened = s.table("graft_cat.default.me18_t")
      require(widened.schema.fieldNames.toSeq ==
        Seq("o_orderkey", "o_totalprice", "o_orderpriority"),
        s"schema evolution must add o_orderpriority: ${widened.schema.simpleString}")
      widened.select(col("o_orderkey"),
        round(col("o_totalprice"), 2).as("price"),
        col("o_orderpriority").as("prio"))
    },
    // MERGE-ON-READ MERGE (delta mode): a table declaring
    // `mergeMode 'merge-on-read'` + a `rowId` key answers a narrow
    // MERGE with exactly two artifacts — insert files for the updated
    // and new rows, and ONE key-equality tombstone at the previous
    // generation — instead of the copy-on-write rewrite of every
    // matched file. The requires pin the mechanism: every pre-merge
    // data file survives BYTE-IDENTICAL ((rel, len, gen) set, the
    // same pin as delim_v2_delete_mor), the manifest carries exactly
    // one In(rowId, keys) tombstone, and the read result matches the
    // copy-on-write semantics exactly (the oracle).
    Cert.scratch("warehouse_merge_mor",
      // the exact COPY-ON-WRITE semantics of the same MERGE — the
      // merge-on-read path must be read-indistinguishable from it
      """SELECT o_orderstatus, count(*) AS n_rows,
        |       round(sum(o_totalprice), 2) AS revenue,
        |       CAST(sum(o_orderkey) AS BIGINT) AS key_sig
        |FROM (
        |  SELECT o_orderkey,
        |         CASE WHEN o_orderkey % 1000 = 0
        |              THEN o_totalprice + 1000000.0
        |              ELSE o_totalprice END AS o_totalprice,
        |         o_orderstatus
        |  FROM orders
        |  UNION ALL
        |  SELECT o_orderkey + 2000000000, o_totalprice * 2.0, 'X'
        |  FROM orders WHERE o_orderkey % 1000 = 0
        |) GROUP BY 1""".stripMargin) { (s, dir, out) =>
      import graft.sources.v2.DelimV2
      val t = s"$out/t"
      graft.core.Scratch.rmTree(t)
      s.sql("DROP TABLE IF EXISTS graft_cat.default.wm19_t")
      s.sql(s"""CREATE TABLE graft_cat.default.wm19_t
        (o_orderkey BIGINT NOT NULL, o_totalprice DOUBLE, o_orderstatus STRING)
        USING `graft-delim` PARTITIONED BY (o_orderstatus)
        OPTIONS (mergeMode 'merge-on-read', rowId 'o_orderkey')
        LOCATION '$t'""")
      val base = Tables.orders(s, dir)
        .select(col("o_orderkey"), col("o_totalprice"), col("o_orderstatus"))
      base.writeTo("graft_cat.default.wm19_t").append()
      val hp = new org.apache.hadoop.fs.Path(t)
      val fs = hp.getFileSystem(s.sessionState.newHadoopConf())
      def snap() = DelimV2.readManifest(fs, hp).get
      val before = snap()
      val beforeSet = before.files.map(e => (e.rel, e.len, e.gen)).toSet
      // the narrow source: updates for keys % 1000 == 0, brand-new
      // inserts with shifted keys into a fresh partition
      val matched = base.filter(col("o_orderkey") % 1000 === 0)
      matched.select(col("o_orderkey"),
          (col("o_totalprice") + 1000000.0).as("o_totalprice"),
          col("o_orderstatus"))
        .unionByName(matched.select(
          (col("o_orderkey") + 2000000000L).as("o_orderkey"),
          (col("o_totalprice") * 2.0).as("o_totalprice"),
          lit("X").as("o_orderstatus")))
        .createOrReplaceTempView("wm19_src")
      s.sql("""MERGE INTO graft_cat.default.wm19_t t
        USING wm19_src s ON t.o_orderkey = s.o_orderkey
        WHEN MATCHED THEN UPDATE SET o_totalprice = s.o_totalprice
        WHEN NOT MATCHED THEN INSERT *""")
      val m = snap()
      require(beforeSet.subsetOf(m.files.map(e => (e.rel, e.len, e.gen)).toSet),
        "a merge-on-read MERGE must leave every matched data file " +
          "byte-identical")
      require(m.gen == before.gen + 1 && m.files.size > beforeSet.size,
        "the delta's insert files must land as the new generation")
      require(m.tombstones.size == 1 && m.tombstones.head._1 == before.gen,
        s"expected ONE key-equality tombstone at gen ${before.gen}, " +
          s"got ${m.tombstones}")
      require(m.tombstones.head._2.startsWith("in:"),
        s"tombstone must be the key-equality form: ${m.tombstones.head._2}")
      s.sql("""SELECT o_orderstatus, count(*) AS n_rows,
        round(sum(o_totalprice), 2) AS revenue,
        sum(o_orderkey) AS key_sig
        FROM graft_cat.default.wm19_t GROUP BY o_orderstatus""")
    },
    // Schema evolution: two parquet generations of the same corpus —
    // v1 lacks the `source` column — read back in ONE scan with
    // mergeSchema, old rows null-filled. This is the 100 TB reality of
    // corpora written over months by evolving pipelines; the sink write
    // happens eagerly at construction (roundtrip contract, same as
    // reports_roundtrip / dedup_incremental).
    Cert.scratch("schema_evolution_scan",
      // legacy rows (even doc_ids, written without `source`) come back
      // null-filled from the merged scan
      """SELECT lang, (doc_id % 2 = 0) AS legacy, count(*) AS n_docs
        |FROM documents GROUP BY 1, 2""".stripMargin) { (s, dir, out) =>
      val docs = Tables.documents(s, dir)
      docs.filter(col("doc_id") % 2 === 0).select(col("doc_id"), col("lang"))
        .write.mode("overwrite").parquet(s"$out/gen1")
      docs.filter(col("doc_id") % 2 === 1)
        .select(col("doc_id"), col("lang"), col("source"))
        .write.mode("overwrite").parquet(s"$out/gen2")
      s.read.option("mergeSchema", "true").parquet(s"$out/gen1", s"$out/gen2")
        .groupBy(col("lang"), col("source").isNull.as("legacy"))
        .agg(count(lit(1)).as("n_docs"))
    },
    // Partition-scoped MERGE (upsert) — the reference warehouse's
    // INSERT OVERWRITE ... PARTITION maintenance step
    // (verizon_automation_script.sh's loaders), done the way it must be
    // at 100 TB: corrections to ONE month (updates keyed on existing
    // orders + late-arriving inserts) rewrite ONLY that month's
    // directory via dynamic partition overwrite. The physical claim is
    // `require`d, not asserted: an unaffected month's (name, size,
    // mtime) file snapshot is byte-identical across the merge, while
    // the hot month's files change. Certified output: the FULL table
    // read back — merge semantics (replaced / kept / inserted rows)
    // under the oracle.
    Cert.scratch("warehouse_merge_upsert",
      // merge semantics over the original table: updated keys replaced,
      // inserts appended, everything else verbatim (keys are unique, so
      // the global NOT EXISTS equals the query's partition-scoped
      // anti-join)
      """WITH base AS (
        |  SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
        |         o_orderdate, o_orderpriority,
        |         strftime(o_orderdate, '%Y-%m') AS om
        |  FROM orders),
        |upd AS (
        |  SELECT o_orderkey, o_custkey, o_orderstatus,
        |         o_totalprice + 1.0 AS o_totalprice, o_orderdate,
        |         '0-CORRECTED' AS o_orderpriority, om
        |  FROM base WHERE om = '1995-03' AND o_orderkey % 7 = 0),
        |ins AS (
        |  SELECT o_orderkey + 100000000 AS o_orderkey, o_custkey,
        |         'I' AS o_orderstatus, o_totalprice, o_orderdate,
        |         o_orderpriority, om
        |  FROM base WHERE om = '1995-03' AND o_orderkey % 11 = 0),
        |changes AS (SELECT * FROM upd UNION ALL SELECT * FROM ins)
        |SELECT * FROM base b
        |WHERE NOT EXISTS (SELECT 1 FROM changes c
        |                  WHERE c.o_orderkey = b.o_orderkey)
        |UNION ALL
        |SELECT * FROM changes""".stripMargin) { (s, dir, out) =>
      val hot = "1995-03" // the month being corrected
      val calm = "1997-01" // witness partition that must stay untouched
      // cluster on the partition key before the partitioned write: each
      // task then emits whole months (≈1 file per month) instead of
      // every task spraying a fragment into all ~80 directories — the
      // small-files problem that cripples partitioned tables at scale
      Tables.orders(s, dir)
        .withColumn("om", date_format(col("o_orderdate"), "yyyy-MM"))
        .repartition(col("om"))
        .write.mode("overwrite").partitionBy("om").parquet(s"$out/orders")
      val tbl = s.read.parquet(s"$out/orders")
      val updates = tbl
        .filter(col("om") === hot && col("o_orderkey") % 7 === 0)
        .withColumn("o_orderpriority", lit("0-CORRECTED"))
        .withColumn("o_totalprice", col("o_totalprice") + lit(1.0))
      val inserts = tbl
        .filter(col("om") === hot && col("o_orderkey") % 11 === 0)
        .withColumn("o_orderkey", col("o_orderkey") + lit(100000000L))
        .withColumn("o_orderstatus", lit("I"))
      val changes = updates.unionByName(inserts)
      // stage-then-swap: the merge output cannot overwrite a path it
      // reads from, and staging is also what makes the swap atomic per
      // partition on a real object store
      Warehouse.mergeByKey(tbl, changes, "o_orderkey", "om")
        .write.mode("overwrite").parquet(s"$out/stage")
      val calmBefore = Warehouse.partitionFileSnapshot(s"$out/orders", "om", calm)
      val hotBefore = Warehouse.partitionFileSnapshot(s"$out/orders", "om", hot)
      require(calmBefore.nonEmpty && hotBefore.nonEmpty,
        s"fixture must populate both witness months $calm and $hot")
      Warehouse.overwritePartitions(
        s.read.parquet(s"$out/stage"), s"$out/orders", "om")
      require(
        Warehouse.partitionFileSnapshot(s"$out/orders", "om", calm) == calmBefore,
        s"merge must not touch the unaffected partition om=$calm")
      require(
        Warehouse.partitionFileSnapshot(s"$out/orders", "om", hot) != hotBefore,
        s"merge must rewrite the affected partition om=$hot")
      s.read.parquet(s"$out/orders")
    },
    // SCD type-2 history with run collapsing (gaps-and-islands): each
    // user's event-type stream folds into validity intervals
    // [valid_from, valid_to), consecutive repeats of a state collapsing
    // into ONE interval — the part a naive lead() gets wrong. The lag
    // marker and the run-numbering sum share a single keyed
    // Exchange+Sort; the closing lead() runs at collapsed-run grain.
    Cert("scd2_user_state_history",
      // same islands construction: lag-marked changes, running-sum run
      // ids, run-grain intervals closed by lead; (ts, event_id) is a
      // total order so run numbering is unique
      """WITH o AS (
        |  SELECT user_id, event_type, ts, event_id,
        |         lag(event_type) OVER (PARTITION BY user_id
        |           ORDER BY ts, event_id) AS prev
        |  FROM events),
        |m AS (
        |  SELECT *, sum(CASE WHEN prev IS NULL OR prev <> event_type
        |                     THEN 1 ELSE 0 END)
        |           OVER (PARTITION BY user_id ORDER BY ts, event_id
        |                 ROWS UNBOUNDED PRECEDING) AS run
        |  FROM o),
        |runs AS (
        |  SELECT user_id, event_type AS state, run,
        |         min(ts) AS valid_from, count(*) AS n_events
        |  FROM m GROUP BY user_id, event_type, run)
        |SELECT user_id, state, valid_from,
        |       lead(valid_from) OVER (PARTITION BY user_id ORDER BY run)
        |         AS valid_to,
        |       n_events,
        |       lead(valid_from) OVER (PARTITION BY user_id ORDER BY run)
        |         IS NULL AS is_current
        |FROM runs""".stripMargin) { (s, dir) =>
      Scd2.history(Tables.events(s, dir),
          col("user_id"), col("event_type"), col("ts"), col("event_id"))
        .withColumnRenamed("key", "user_id")
    },
    // Range-clustered data layout: the same events written (a) range-
    // partitioned + sorted on (user_id, ts) and (b) round-robin
    // scattered; a single-user predicate is `require`d to touch ≤3
    // clustered files but ≥8 scattered ones AND >2x the clustered
    // count — the measured locality gap that at 100 TB is the
    // difference between opening a handful of files (plus row-group
    // min/max skipping inside them, which the sort makes effective)
    // and opening the whole table. Certified output: the clustered
    // read's aggregate under the plain-events oracle — layout must
    // never change answers.
    Cert.scratch("layout_cluster_prune",
      // layout must never change answers: the clustered read's aggregate
      // equals the plain table scan
      """SELECT event_type, count(*) AS n_events,
        |       round(sum(value), 2) AS sum_value
        |FROM events WHERE user_id = 7
        |GROUP BY 1""".stripMargin) { (s, dir, out) =>
      val ev = Tables.events(s, dir)
        .select(col("event_id"), col("ts"), col("user_id"),
          col("event_type"), col("value"))
      Layout.clusterByRange(ev, s"$out/clustered", 24, col("user_id"), col("ts"))
      ev.repartition(24).write.mode("overwrite").parquet(s"$out/scattered")
      val pred = col("user_id") === 7
      val clustered = s.read.parquet(s"$out/clustered").filter(pred)
      val scattered = s.read.parquet(s"$out/scattered").filter(pred)
      val cF = Layout.filesTouched(clustered)
      val sF = Layout.filesTouched(scattered)
      require(cF >= 1 && cF <= 3,
        s"clustered layout must confine user 7 to <=3 of 24 files, got $cF")
      require(sF >= 8 && sF > 2 * cF,
        s"scattered layout must spread user 7 (got $sF files vs clustered $cF)")
      clustered.groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_events"),
          round(sum(col("value")), 2).as("sum_value"))
    },
    // A2: per-partition row count — one grouped agg, not one query per
    // partition like the reference (verizon_automation_script.sh:111-122).
    Cert("rowcount_by_partition",
      """SELECT 'lineitem' AS table_name,
        |       'l_returnflag=' || l_returnflag AS partition_spec,
        |       count(*) AS cnt
        |FROM lineitem GROUP BY 1, 2""".stripMargin) { (s, dir) =>
      PartitionCounts.perPartition(Tables.lineitem(s, dir), "lineitem", Seq("l_returnflag"))
        .withColumnRenamed("table", "table_name")
        .withColumnRenamed("partition", "partition_spec")
    },
    // A1: whole-table counts for the full fixture set, one unioned plan.
    Cert("rowcount_total",
      """SELECT * FROM (
        |  SELECT 'region' AS table_name, NULL AS partition_spec, count(*) AS cnt FROM region
        |  UNION ALL SELECT 'nation', NULL, count(*) FROM nation
        |  UNION ALL SELECT 'customer', NULL, count(*) FROM customer
        |  UNION ALL SELECT 'supplier', NULL, count(*) FROM supplier
        |  UNION ALL SELECT 'part', NULL, count(*) FROM part
        |  UNION ALL SELECT 'orders', NULL, count(*) FROM orders
        |  UNION ALL SELECT 'lineitem', NULL, count(*) FROM lineitem)""".stripMargin) { (s, dir) =>
      PartitionCounts.forTables(s, dir,
        Seq("region", "nation", "customer", "supplier", "part", "orders", "lineitem")
          .map(_ -> Seq.empty[String]))
        .withColumnRenamed("table", "table_name")
        .withColumnRenamed("partition", "partition_spec")
    },
    // J1/J2: full reconciliation report — source vs deterministically
    // perturbed target (the 'R' partition loses every 97th order's rows),
    // one full outer join over per-partition count records.
    Cert("reconcile_report",
      ReconcileReportOracle) { (s, dir) =>
      val li = Tables.lineitem(s, dir)
      val src = PartitionCounts.perPartition(li, "lineitem", Seq("l_returnflag"))
      val tgt = PartitionCounts.perPartition(perturbed(li), "lineitem", Seq("l_returnflag"))
      Reconcile.counts(src, tgt)
        .withColumnRenamed("table", "table_name")
        .withColumnRenamed("partition", "partition_spec")
    },
    // J1: matched subset of the same report.
    Cert("reconcile_matched",
      """WITH src AS (SELECT 'l_returnflag=' || l_returnflag AS partition_spec,
        |                    count(*) AS cnt FROM lineitem GROUP BY 1),
        |     tgt AS (SELECT 'l_returnflag=' || l_returnflag AS partition_spec,
        |                    count(*) AS cnt FROM lineitem
        |             WHERE NOT (l_returnflag = 'R' AND l_orderkey % 97 = 0)
        |             GROUP BY 1)
        |SELECT 'lineitem' AS table_name, s.partition_spec, s.cnt
        |FROM src s JOIN tgt t
        |  ON s.partition_spec = t.partition_spec AND s.cnt = t.cnt""".stripMargin) { (s, dir) =>
      val li = Tables.lineitem(s, dir)
      val src = PartitionCounts.perPartition(li, "lineitem", Seq("l_returnflag"))
      val tgt = PartitionCounts.perPartition(perturbed(li), "lineitem", Seq("l_returnflag"))
      Reconcile.matched(Reconcile.counts(src, tgt))
        .withColumnRenamed("table", "table_name")
        .withColumnRenamed("partition", "partition_spec")
    },
    // J1/J2 at WAREHOUSE width: the reference's UC#1
    // loops six tables (configuration.properties:9-15); here all eight
    // fixture tables reconcile in ONE plan — each side is a union of
    // per-table count aggregations (whole-table or per-partition), and
    // one full outer join classifies every (table, partition) cell. The
    // deterministic perturbations exercise all four statuses: lineitem's
    // 'R' partition loses every 97th order (mismatched), orders' 'F'
    // loses every 101st order (mismatched) and its 'P' partition
    // entirely (missing_in_target), the source side drops the events
    // 'error' partition (missing_in_source); everything else matches.
    // Planning cost: the original shape built src and tgt as UNIONS OF 8 AGGREGATIONS
    // EACH and full-outer-joined the two 8-branch unions — a 16-branch
    // plan whose Catalyst planning alone profiled at ~0.75 s (and at
    // warehouse width grows with the table count), with every table
    // scanned twice (once per side). A (table, partition) cell exists on
    // a side iff that side has ≥1 row in it, so the join is equivalent
    // to ONE grouped aggregation per table computing both sides' counts
    // in a single pass — src_cnt/tgt_cnt as conditional counts,
    // zero-to-NULL restoring exactly the join's missing-side semantics —
    // an 8-branch union of half-width subtrees, one scan per table, no
    // join. Output is row-identical (same status derivation; oracle-
    // verified).
    Cert("reconcile_warehouse",
      """WITH src AS (
        |  SELECT 'region' AS table_name, NULL AS partition_spec, count(*) AS cnt FROM region
        |  UNION ALL SELECT 'nation', NULL, count(*) FROM nation
        |  UNION ALL SELECT 'customer', NULL, count(*) FROM customer
        |  UNION ALL SELECT 'supplier', NULL, count(*) FROM supplier
        |  UNION ALL SELECT 'part', NULL, count(*) FROM part
        |  UNION ALL SELECT 'lineitem', 'l_returnflag=' || l_returnflag, count(*)
        |            FROM lineitem GROUP BY 2
        |  UNION ALL SELECT 'orders', 'o_orderstatus=' || o_orderstatus, count(*)
        |            FROM orders GROUP BY 2
        |  UNION ALL SELECT 'events', 'event_type=' || event_type, count(*)
        |            FROM events WHERE event_type <> 'error' GROUP BY 2),
        |tgt AS (
        |  SELECT 'region' AS table_name, NULL AS partition_spec, count(*) AS cnt FROM region
        |  UNION ALL SELECT 'nation', NULL, count(*) FROM nation
        |  UNION ALL SELECT 'customer', NULL, count(*) FROM customer
        |  UNION ALL SELECT 'supplier', NULL, count(*) FROM supplier
        |  UNION ALL SELECT 'part', NULL, count(*) FROM part
        |  UNION ALL SELECT 'lineitem', 'l_returnflag=' || l_returnflag, count(*)
        |            FROM lineitem
        |            WHERE NOT (l_returnflag = 'R' AND l_orderkey % 97 = 0) GROUP BY 2
        |  UNION ALL SELECT 'orders', 'o_orderstatus=' || o_orderstatus, count(*)
        |            FROM orders
        |            WHERE NOT (o_orderstatus = 'F' AND o_orderkey % 101 = 0)
        |              AND o_orderstatus <> 'P' GROUP BY 2
        |  UNION ALL SELECT 'events', 'event_type=' || event_type, count(*)
        |            FROM events GROUP BY 2)
        |SELECT coalesce(s.table_name, t.table_name) AS table_name,
        |       coalesce(s.partition_spec, t.partition_spec) AS partition_spec,
        |       s.cnt AS src_cnt, t.cnt AS tgt_cnt,
        |       CASE WHEN s.cnt IS NULL THEN 'missing_in_source'
        |            WHEN t.cnt IS NULL THEN 'missing_in_target'
        |            WHEN s.cnt = t.cnt THEN 'matched'
        |            ELSE 'mismatched' END AS status
        |FROM src s FULL JOIN tgt t
        |  ON s.table_name = t.table_name
        | AND s.partition_spec IS NOT DISTINCT FROM t.partition_spec""".stripMargin) { (s, dir) =>
      def nz(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column = when(c > 0, c)
      def whole(names: String*) = names.map { t =>
        Tables.load(s, dir, t).agg(count(lit(1)).as("cnt"))
          .select(lit(t).as("table"), lit(null).cast("string").as("partition"),
            col("cnt").as("src_cnt"), col("cnt").as("tgt_cnt"))
      }
      def paired(df: org.apache.spark.sql.DataFrame, table: String,
          partCol: String, srcKeep: org.apache.spark.sql.Column,
          tgtKeep: org.apache.spark.sql.Column) =
        df.groupBy(col(partCol))
          .agg(nz(count(when(srcKeep, lit(1)))).as("src_cnt"),
            nz(count(when(tgtKeep, lit(1)))).as("tgt_cnt"))
          .select(lit(table).as("table"),
            concat_ws("=", lit(partCol), col(partCol).cast("string"))
              .as("partition"),
            col("src_cnt"), col("tgt_cnt"))
      val li = paired(Tables.lineitem(s, dir), "lineitem", "l_returnflag",
        lit(true),
        !(col("l_returnflag") === "R" && col("l_orderkey") % 97 === 0))
      val o = paired(Tables.orders(s, dir), "orders", "o_orderstatus",
        lit(true),
        !(col("o_orderstatus") === "F" && col("o_orderkey") % 101 === 0) &&
          col("o_orderstatus") =!= "P")
      val ev = paired(Tables.events(s, dir), "events", "event_type",
        col("event_type") =!= "error", lit(true))
      (whole("region", "nation", "customer", "supplier", "part") ++
        Seq(li, o, ev))
        .reduce(_ unionByName _)
        .select(col("table").as("table_name"),
          col("partition").as("partition_spec"),
          col("src_cnt"), col("tgt_cnt"),
          when(col("src_cnt").isNull, Reconcile.MissingInSource)
            .when(col("tgt_cnt").isNull, Reconcile.MissingInTarget)
            .when(col("src_cnt") === col("tgt_cnt"), Reconcile.Matched)
            .otherwise(Reconcile.Mismatched)
            .as("status"))
    },
    // A3: per-partition integrity check via order-insensitive digests
    // (count + bit_xor of row hashes); the digest columns themselves are
    // engine-internal, only the consistent verdict is exposed.
    Cert("integrity_by_partition",
      // The perturbed target is a subset of the source within each group,
      // so multiset equality <=> equal counts; the engine verifies it with
      // xxhash64 digests, the oracle with the subset shortcut.
      """SELECT s.l_returnflag,
        |       s.src_cnt, t.tgt_cnt,
        |       s.src_cnt = t.tgt_cnt AS consistent
        |FROM (SELECT l_returnflag, count(*) AS src_cnt FROM lineitem GROUP BY 1) s
        |JOIN (SELECT l_returnflag, count(*) AS tgt_cnt FROM lineitem
        |      WHERE NOT (l_returnflag = 'R' AND l_orderkey % 97 = 0) GROUP BY 1) t
        |  ON s.l_returnflag = t.l_returnflag""".stripMargin) { (s, dir) =>
      val li = Tables.lineitem(s, dir)
      Fingerprint.compare(li, perturbed(li), Seq("l_returnflag"))
    },
    // L1: deterministic sample — LIMIT n over a total order on all
    // columns (TakeOrdered: per-partition top-N, only n rows shuffled).
    Cert("sample_limit",
      SampleOracle) { (s, dir) =>
      Sample.limitN(Tables.lineitem(s, dir), 10)
    },
    // S4/P1/T7: compare_tables.sh — split pipe-delimited lines into 3
    // fields, re-project space-separated; short rows give empty fields.
    Cert("delim_scan_project",
      """SELECT concat_ws(' ',
        |         string_split(line, '|')[1],
        |         coalesce(string_split(line, '|')[2], ''),
        |         coalesce(string_split(line, '|')[3], '')) AS projected
        |FROM (
        |  SELECT n_name || '|' || CAST(n_nationkey AS VARCHAR) || '|' ||
        |         CAST(n_regionkey AS VARCHAR) AS line FROM nation
        |  UNION ALL SELECT n_name FROM nation)""".stripMargin) { (s, dir) =>
      val n = Tables.nation(s, dir)
      val lines = n.select(concat_ws("|",
          col("n_name"), col("n_nationkey").cast("string"), col("n_regionkey").cast("string"))
        .as("line"))
        .unionByName(n.select(col("n_name").as("line"))) // short rows: fields 2,3 missing
      Delim.scanAndProject(lines, "line")
    },
    // K2 roundtrip: the reconciliation report is WRITTEN as a header CSV
    // (the reference's TableMismatchedData/MatchedData sink,
    // verizon_automation_script.sh:170-182), read back from the CSV
    // bytes, and the read-back rows are what the oracle checks — the
    // sink+source path is oracle-checked, not just spec-covered.
    Cert.scratch("reports_roundtrip",
      // identical relation to reconcile_report — the roundtrip through the
      // CSV sink must be lossless
      ReconcileReportOracle) { (s, dir, out) =>
      val li = Tables.lineitem(s, dir)
      val src = PartitionCounts.perPartition(li, "lineitem", Seq("l_returnflag"))
      val tgt = PartitionCounts.perPartition(perturbed(li), "lineitem", Seq("l_returnflag"))
      val report = Reconcile.counts(src, tgt)
      Reports.writeCsv(report, s"$out/report")
      s.read.option("header", "true")
        .schema("table STRING, partition STRING, src_cnt BIGINT, tgt_cnt BIGINT, status STRING")
        .csv(s"$out/report")
        .select(col("table").as("table_name"), col("partition").as("partition_spec"),
          col("src_cnt"), col("tgt_cnt"), col("status"))
    },
    // K3 roundtrip: the sampled export sink (INSERT OVERWRITE LOCAL
    // DIRECTORY ... LIMIT n, verizon_automation_script.sh:219-233) —
    // deterministic 10-row sample written as CSV, read back with the
    // table's schema, checked against the same sample computed in SQL.
    Cert.scratch("sampled_export_roundtrip",
      SampleOracle) { (s, dir, out) =>
      val li = Tables.lineitem(s, dir)
      Reports.sampledExport(li, s"$out/lineitem", 10)
      s.read.option("header", "true").schema(li.schema).csv(s"$out/lineitem")
    },
    // K3 in a second wire format: the same deterministic sample written
    // as JSON lines and read back with the table schema (timestamps
    // roundtrip as ISO strings under the fixed UTC session timezone).
    Cert.scratch("json_export_roundtrip",
      SampleOracle) { (s, dir, out) =>
      val li = Tables.lineitem(s, dir)
      Sample.limitN(li, 10).write.mode("overwrite").json(s"$out/lineitem")
      s.read.schema(li.schema).json(s"$out/lineitem")
    },
    // K3 in a third wire format: ORC — the other columnar format a
    // warehouse migration encounters (typed, splittable, predicate-
    // pushdown-capable like parquet; Spark's built-in source). Same
    // deterministic sample, same lossless-roundtrip oracle.
    Cert.scratch("orc_export_roundtrip",
      SampleOracle) { (s, dir, out) =>
      val li = Tables.lineitem(s, dir)
      Sample.limitN(li, 10).write.mode("overwrite").orc(s"$out/lineitem")
      s.read.schema(li.schema).orc(s"$out/lineitem")
    },
    // The reference's native table layout end-to-end: WRITE a
    // directory-partitioned table (partitionBy, the Hive layout), read
    // it back, and aggregate ONE partition — the partition predicate
    // resolves against directory metadata, so only that partition's
    // files are ever opened (PlanAuditSpec asserts the PartitionFilters
    // mechanics; this query puts the whole sink→prune→aggregate path
    // under the DuckDB oracle).
    Cert.scratch("partitioned_write_scan",
      """SELECT date_trunc('day', ts) AS day, count(*) AS n_clicks,
        |       count(DISTINCT user_id) AS n_users
        |FROM events WHERE event_type = 'click' GROUP BY 1""".stripMargin) { (s, dir, out) =>
      Tables.events(s, dir)
        .select(col("event_id"), col("ts"), col("user_id"), col("event_type"))
        .write.mode("overwrite").partitionBy("event_type").parquet(s"$out/events")
      s.read.parquet(s"$out/events")
        .filter(col("event_type") === "click")
        .groupBy(date_trunc("day", col("ts")).as("day"))
        .agg(count(lit(1)).as("n_clicks"),
          countDistinct(col("user_id")).as("n_users"))
    }
  )
}
