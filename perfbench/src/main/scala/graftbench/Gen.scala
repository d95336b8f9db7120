package graftbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Seeded input generators. Sizes are fixed constants (the same for every
  * seed, pinned in BENCHMARK.json's workload descriptions and in
  * README.md); the seed only chooses values and which rows, keys or
  * partitions are perturbed. Each generator also returns the ground truth
  * its workload's correctness check compares against.
  */
object Gen {

  /** Seed reserved for validating a later performance claim: never used
    * while tuning a change. */
  val HeldOutSeed = 9001

  // ------------------------------------------------------------------ sizes

  // reconcile: two warehouse tables at sf0.001 row counts
  val Customer = 150
  val Orders = 1500
  val Lineitem = 6000
  // ingest: base rows of the table; stream: events per run
  val IngestRows = 150000
  val StreamEvents = 50000

  val ReturnFlags: Seq[String] = Seq("A", "N", "R")
  val OrderStatus: Seq[String] = Seq("F", "O", "P")
  val EventTypes: Seq[String] = Seq("click", "view", "purchase", "error", "login")

  /** Rows dropped from a perturbed partition: one in DropEvery. */
  val DropEvery = 100
  /** Rows in the target-only lineitem partition. */
  val ExtraRows = 1000
  val ExtraFlag = "X"

  /** Seeded value hash in [0, m). */
  def h(seed: Long, salt: Int, m: Long): Column =
    pmod(xxhash64(lit(seed), col("id"), lit(salt)), lit(m))

  private def pick(values: Seq[String], i: Column): Column =
    element_at(array(values.map(lit): _*), (i + 1).cast("int"))

  // -------------------------------------------------------------- warehouse

  /** The reconcile workload's perturbation plan: each of lineitem's three
    * partitions is perturbed one way — rows dropped, one cell changed with
    * counts unchanged, or the whole partition missing from the target. */
  final case class WarehousePlan(
      seed: Long, dropPart: Int, dropOffset: Int, mutatedPart: Int, mutatedRow: Long) {
    def missingPart: Int = 3 - dropPart - mutatedPart
    def dropped: Int = Lineitem / 3 / DropEvery
  }

  def warehousePlan(seed: Long): WarehousePlan = {
    val r = new scala.util.Random(seed)
    val drop = r.nextInt(3)
    val mutated = (drop + 1 + r.nextInt(2)) % 3
    WarehousePlan(seed, drop, r.nextInt(DropEvery), mutated,
      3L * r.nextInt(Lineitem / 3) + mutated)
  }

  /** The warehouse tables: name, partition columns, row count. A whole
    * table and a partitioned one, so both of the pipeline's branches run;
    * a pipeline run over them submits 25 Spark jobs. */
  val WarehouseTables: Seq[(String, Seq[String], Long)] = Seq(
    ("customer", Nil, Customer), ("lineitem", Seq("l_returnflag"), Lineitem))

  private val T0 = 1704067200L // 2024-01-01T00:00:00Z

  private def ts(seed: Long, salt: Int, span: Long) = timestamp_seconds(lit(T0) + h(seed, salt, span))
  private def money(seed: Long, salt: Int, cents: Long) = (h(seed, salt, cents) / 100.0).cast("double")

  /** Lineitem rows for the ids of `ids`, in partition `flag`. */
  private def lineitem(ids: DataFrame, seed: Long, flag: Column): DataFrame =
    ids.select((h(seed, 15, Orders) + 1).as("l_orderkey"),
      (h(seed, 16, 200) + 1).as("l_partkey"), (h(seed, 17, 10) + 1).as("l_suppkey"),
      (h(seed, 18, 7) + 1).cast("int").as("l_linenumber"),
      (h(seed, 19, 50) + 1).cast("double").as("l_quantity"),
      money(seed, 20, 10000000).as("l_extendedprice"),
      (h(seed, 21, 11) / 100.0).cast("double").as("l_discount"),
      (h(seed, 22, 9) / 100.0).cast("double").as("l_tax"),
      flag.as("l_returnflag"),
      pick(Seq("O", "F"), h(seed, 23, 2)).as("l_linestatus"),
      ts(seed, 24, 7L * 365 * 86400).as("l_shipdate"), col("id").as("l_rowid"))

  /** Source tables as DataFrames (schemas follow the TPC-H-shaped fixture
    * tables; the partition column is a function of the row id so partition
    * sizes are fixed). */
  def warehouse(spark: SparkSession, seed: Long): Map[String, DataFrame] = Map(
    "customer" -> spark.range(Customer).select((col("id") + 1).as("c_custkey"),
      concat(lit("Customer#"), col("id")).as("c_name"),
      h(seed, 1, 25).cast("int").as("c_nationkey"), money(seed, 2, 1000000).as("c_acctbal"),
      pick(Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "MACHINERY", "HOUSEHOLD"),
        h(seed, 3, 5)).as("c_mktsegment")),
    "lineitem" -> lineitem(spark.range(Lineitem).toDF(), seed, pick(ReturnFlags, col("id") % 3)))

  /** The target: the source with the plan's perturbations applied to
    * lineitem — rows dropped from one partition, one cell changed with
    * counts unchanged in another, the third missing, and one partition that
    * exists only in the target. Customer is copied unchanged. */
  def perturb(spark: SparkSession, src: Map[String, DataFrame], p: WarehousePlan): Map[String, DataFrame] = {
    val part = col("l_rowid") % 3
    val li = src("lineitem")
      .filter(!(part === p.dropPart &&
        ((col("l_rowid") / 3).cast("long") + p.dropOffset) % DropEvery === 0))
      .filter(part =!= p.missingPart)
      .withColumn("l_quantity",
        when(col("l_rowid") === p.mutatedRow, col("l_quantity") + 1000.0)
          .otherwise(col("l_quantity")))
    val extra = lineitem(spark.range(Lineitem, Lineitem + ExtraRows).toDF(), p.seed, lit(ExtraFlag))
    src ++ Map("lineitem" -> li.unionByName(extra))
  }

  /** Write each table as parquet under `dir`, partitioned on its
    * partition column; the small writes are submitted concurrently. */
  def writeWarehouse(tables: Map[String, DataFrame], dir: String): Unit = {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    import scala.concurrent.duration.Duration
    val writes = WarehouseTables.map { case (name, parts, _) => Future {
      val w = tables(name).write.mode("overwrite")
      (if (parts.isEmpty) w else w.partitionBy(parts: _*)).parquet(s"$dir/$name.parquet")
    } }
    Await.result(Future.sequence(writes), Duration.Inf)
  }

  /** Expected UC#1 report rows and UC#2 inconsistent rows. */
  def warehouseTruth(p: WarehousePlan): Checks.ReconcileTruth = {
    import Checks.CountRow
    val per = Lineitem / 3
    def flag(i: Int) = Some(s"l_returnflag=${ReturnFlags(i)}")
    val li = ReturnFlags.indices.map { i =>
      CountRow("lineitem", flag(i), Some(per),
        if (i == p.missingPart) None else Some(per - (if (i == p.dropPart) p.dropped else 0)))
    } :+ CountRow("lineitem", Some(s"l_returnflag=$ExtraFlag"), None, Some(ExtraRows.toLong))
    val report = CountRow("customer", None, Some(Customer), Some(Customer)) +: li
    val mutated = CountRow("lineitem", flag(p.mutatedPart), Some(per), Some(per))
    Checks.ReconcileTruth(report, report.filter(_.status != Checks.Matched) :+ mutated)
  }

  // ----------------------------------------------------------------- ingest

  /** Base rows of the ingest table, as SQL over `range` so the benchmark's
    * model can recompute every value exactly. */
  def ingestBaseSql(table: String, seed: Long): String =
    s"""INSERT INTO $table
       |SELECT id + 1 AS o_orderkey,
       |       (id * 7919 + ${seed % 15000}) % 15000 + 1 AS o_custkey,
       |       CAST((id * 104729 + ${seed % 5000000}) % 5000000 AS DOUBLE) / 100D AS o_totalprice,
       |       CASE id % 3 WHEN 0 THEN 'F' WHEN 1 THEN 'O' ELSE 'P' END AS o_orderstatus
       |FROM range($IngestRows)""".stripMargin

  def ingestBaseRow(id: Long, seed: Long): Checks.OrderRow =
    Checks.OrderRow(id + 1, (id * 7919 + seed % 15000) % 15000 + 1,
      ((id * 104729 + seed % 5000000) % 5000000).toDouble / 100d, OrderStatus((id % 3).toInt))

  // ------------------------------------------------------------------ dedup

  val BackgroundDocs = 5000
  val PlantedGroups = 50
  val VariantsPerGroup = 4
  val Vocabulary = 20000

  /** Corpus: background documents of distinct random words, plus planted
    * groups — a background document and variants of it that each swap one
    * word (Jaccard >= 0.93 to the base, so every group is one cluster at
    * threshold 0.9). Returns the documents and the planted groups' ids. */
  def corpus(seed: Long): (Seq[(Long, String)], Seq[Seq[Long]]) = {
    val r = new scala.util.Random(seed)
    def word(k: Int): String = {
      val sb = new StringBuilder
      var x = k + 26
      while (x > 0) { sb.append(('a' + x % 26).toChar); x /= 26 }
      sb.toString
    }
    val background = (0 until BackgroundDocs).map { i =>
      val n = 30 + r.nextInt(31)
      val ws = Iterator.continually(r.nextInt(Vocabulary)).distinct.take(n).toVector
      i.toLong -> ws
    }
    val bases = r.shuffle(background.indices.toVector).take(PlantedGroups)
    var next = BackgroundDocs.toLong
    val planted = bases.map { b =>
      val ws = background(b)._2
      val variants = (0 until VariantsPerGroup).map { _ =>
        val pos = r.nextInt(ws.size)
        val sub = Iterator.continually(r.nextInt(Vocabulary)).find(w => !ws.contains(w)).get
        val id = next
        next += 1
        id -> ws.updated(pos, sub)
      }
      (b.toLong, variants)
    }
    val docs = (background ++ planted.flatMap(_._2)).map { case (id, ws) =>
      id -> ws.map(word).mkString(" ") }
    (docs, planted.map { case (b, vs) => b +: vs.map(_._1) })
  }

  // ----------------------------------------------------------------- stream

  val StreamUsers = 2000
  val StreamDays = 3
  val StreamChunks = 4

  /** Events for the stream workload: microsecond timestamps over three
    * days (the fixture's events carry sub-second times), values in
    * multiples of 0.5 so session sums are exact. */
  def streamEvents(spark: SparkSession, seed: Long): DataFrame =
    spark.range(StreamEvents).select(col("id").as("event_id"),
      timestamp_micros(lit(T0 * 1000000L) + h(seed, 40, StreamDays * 86400L * 1000000L)).as("ts"),
      h(seed, 41, StreamUsers).as("user_id"),
      pick(EventTypes, h(seed, 42, EventTypes.size)).as("event_type"),
      (h(seed, 43, 200) * 0.5).as("value"))

  /** Expected closed sessions by plain window-function sessionization:
    * a session ends when the next event of the user is more than 30
    * minutes later; it is emitted when that next event exists, or when
    * the final watermark (last event time minus one hour) passes its end
    * plus the gap. */
  def sessionsReference(events: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("user_id").orderBy("ts")
    val gapS = 30 * 60L
    val marked = events.select(col("user_id"), col("ts"), col("value"))
      .withColumn("new", when(lag("ts", 1).over(w).isNull ||
        unix_micros(col("ts")) - unix_micros(lag("ts", 1).over(w)) > gapS * 1000000L, 1)
        .otherwise(0))
      .withColumn("sid", sum("new").over(w.rowsBetween(Window.unboundedPreceding, 0)))
    val sess = marked.groupBy("user_id", "sid").agg(min("ts").as("session_start"),
      max("ts").as("session_end"), count(lit(1)).as("n_events"), sum("value").as("sum_value"))
    val last = sess.groupBy("user_id").agg(max("sid").as("last_sid"))
    val wm = events.agg((unix_millis(max("ts")) - 3600000L).as("wm_ms"))
    sess.join(last, "user_id").crossJoin(wm)
      .filter(col("sid") < col("last_sid") ||
        unix_millis(col("session_end")) + gapS * 1000 < col("wm_ms"))
      .select(col("session_start"), col("user_id"), col("n_events"), col("sum_value"))
  }
}
