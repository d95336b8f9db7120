package graftbench

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.{CacheScope, ReconcilePipeline}
import graft.ext.{Dedup, Text}
import graft.sources.v2.DelimCompact
import graft.stream.{SessionClose, SessionCloseTws, StreamRun}

/** What a workload hands the benchmark's loop: everything an operation
  * needs is prepared before `run`, which is the only part timed, and
  * `check` runs after it.
  */
final case class Op(kind: String, run: () => Long, check: () => Option[String])

/** What a traced run hands a workload to derive its own layer metrics. */
final case class TraceView(ops: Seq[OpRec], jobs: Seq[Probe.Job], triggers: Seq[Probe.Trigger]) {
  def jobsIn(o: OpRec): Seq[Probe.Job] = jobs.filter(j => j.start >= o.start && j.start <= o.end)
  def perOp(x: Double): Double = if (ops.isEmpty) 0.0 else x / ops.size
}

/** One finished operation. Times are epoch milliseconds; `gcMs` is the
  * JVM's collection time while it ran. */
final case class OpRec(index: Int, kind: String, start: Double, end: Double,
    rows: Long, ok: Boolean, gcMs: Long) {
  def seconds: Double = (end - start) / 1000.0
}

final case class Env(spark: SparkSession, dir: String, seed: Long, tracer: Tracer)

trait Workload {
  /** Operations per cycle; statistics use complete cycles only, so every
    * run measures the same mix. */
  def cycle: Int = 1
  /** Generate the inputs (timed, several times, as `setup_s`). */
  def setup(): Unit
  /** Compute reference answers the checks need beyond the generator's
    * ground truth; runs once, after the last setup. */
  def reference(): Unit = ()
  /** Warm-up operations run after setup, before measuring: op(-1),
    * op(-2), ... */
  def warmupOps: Int = 0
  /** The i-th measured operation (negative: the warm-up ones). */
  def op(i: Int): Op
  /** A check over the state all operations left behind. */
  def finish(): Option[String] = None
  /** Workload-specific layer metrics, from a traced run. */
  def layers(v: TraceView): Map[String, Double] = Map.empty
}

object Workload {
  val Names: Seq[String] = Seq("batch", "incremental")

  /** Each benchmark workload is two parts run in turn. The warm-up cycles
    * bring the JIT close to steady state: without them operation times
    * still fell by a third over the first 20-30 s of a run. `batch` gets
    * one fewer, as its cycles are twice as long and the first one's `dedup`
    * call is the cold reference call. */
  def apply(name: String, env: Env): Workload = name match {
    case "batch" => new Mix(Seq(new ReconcileWorkload(env), new DedupWorkload(env)), warmupCycles = 2)
    case "incremental" =>
      new Mix(Seq(new IngestWorkload(env), new StreamWorkload(env)), warmupCycles = 3)
    case other => throw new IllegalArgumentException(s"unknown workload: $other")
  }

  /** Seconds per operation during which at least one of the jobs `keep`
    * selects was running. */
  def jobSeconds(v: TraceView)(keep: Probe.Job => Boolean): Double =
    v.perOp(v.ops.map(o => SelfTime.covered(o.start, o.end,
      v.jobsIn(o).filter(keep).map(j => (j.start, j.end)))).sum / 1000.0)
}

// ------------------------------------------------------------------------ mix

/** Parts run as one workload: a cycle is one cycle of each part, in
  * order, on the same session and scratch directory. Each part sees its
  * own operation indices, as if it ran alone: measured 0, 1, ... and
  * warm-up -1, -2, ... */
final class Mix(parts: Seq[Workload], warmupCycles: Int) extends Workload {
  private val offsets = parts.scanLeft(0)(_ + _.cycle)
  override val cycle: Int = offsets.last
  override def warmupOps: Int = warmupCycles * cycle

  /** The part that runs operation `i` (i >= 0) and its index there. */
  private def locate(i: Int): (Int, Int) = {
    val p = i % cycle
    val k = offsets.lastIndexWhere(_ <= p)
    (k, i / cycle * parts(k).cycle + p - offsets(k))
  }

  def setup(): Unit = parts.foreach(_.setup())
  override def reference(): Unit = parts.foreach(_.reference())

  def op(i: Int): Op =
    if (i >= 0) { val (k, j) = locate(i); parts(k).op(j) }
    else { val (k, j) = locate(-1 - i); parts(k).op(-1 - j) }

  override def finish(): Option[String] = parts.flatMap(_.finish()) match {
    case Seq() => None
    case errs => Some(errs.mkString("; "))
  }

  override def layers(v: TraceView): Map[String, Double] =
    parts.indices.flatMap { k =>
      val own = v.ops.flatMap { o =>
        val (part, j) = locate(o.index)
        if (part == k) Some(o.copy(index = j)) else None
      }
      parts(k).layers(v.copy(ops = own))
    }.toMap
}

// ------------------------------------------------------------------ reconcile

/** The paper's job: UC#1 per-partition counts, UC#2 full-row digests and
  * the three CSV reports, over two tables against a perturbed copy. */
final class ReconcileWorkload(env: Env) extends Workload {
  import env._
  private val plan = Gen.warehousePlan(seed)
  private val truth = Gen.warehouseTruth(plan)
  private val src = s"$dir/source"
  private val tgt = s"$dir/target"
  private val out = s"$dir/reports"
  private val tables = Gen.WarehouseTables.map { case (n, p, _) => n -> p }
  private val rows = truth.report.map(r => r.src.getOrElse(0L) + r.tgt.getOrElse(0L)).sum


  def setup(): Unit = {
    val source = Gen.warehouse(spark, seed)
    Gen.writeWarehouse(source, src)
    Gen.writeWarehouse(Gen.perturb(spark, source, plan), tgt)
  }

  def op(i: Int): Op = Op("reconcile", () => {
    tracer.span("ReconcilePipeline.writeReports", "core") {
      CacheScope.withCached(new ReconcilePipeline(spark, src, tgt, tables).writeReports(out))
    }
    rows
  }, () => Checks.reconcile(readReports(), truth))

  private def readReports(): Checks.Reports = {
    def csv(name: String, schema: String) =
      spark.read.option("header", "true").schema(schema).csv(s"$out/$name").collect().toSeq
    def str(r: org.apache.spark.sql.Row, i: Int) = Option(r.getString(i))
    def lng(r: org.apache.spark.sql.Row, i: Int) = if (r.isNullAt(i)) None else Some(r.getLong(i))
    Checks.Reports(
      csv("MatchedData", "table STRING, partition STRING, cnt BIGINT")
        .map(r => (r.getString(0), str(r, 1), r.getLong(2))),
      csv("TableMismatchedData",
        "table STRING, partition STRING, src_cnt BIGINT, tgt_cnt BIGINT, status STRING")
        .map(r => (r.getString(0), str(r, 1), lng(r, 2), lng(r, 3), r.getString(4))),
      csv("TableDataNotConsistent",
        "table STRING, partition STRING, src_cnt BIGINT, tgt_cnt BIGINT, consistent BOOLEAN")
        .map(r => (r.getString(0), str(r, 1), lng(r, 2), lng(r, 3))))
  }

  /** Jobs by the part of the pipeline they serve. A job of a CSV sink
    * belongs to the report the sink writes: UC#1 writes MatchedData and
    * TableMismatchedData, UC#2 TableDataNotConsistent. Any other job
    * belongs to the outermost of `report` (UC#1) and `integrity` (UC#2)
    * on its call site. The last job of a sink's SQL execution is its
    * result stage, the file write itself (AQE runs the stages before it as
    * jobs of their own); it is charged to `core.write_reports_s`. */
  override def layers(v: TraceView): Map[String, Double] = {
    val jobs = v.ops.flatMap(v.jobsIn)
    val lastOfExec = jobs.filter(_.exec >= 0).groupBy(_.exec).values.map(_.maxBy(_.id).id).toSet
    def isWrite(j: Probe.Job) = j.output.nonEmpty && lastOfExec(j.id)
    def part(j: Probe.Job): String = j.output.split('/').last match {
      case "MatchedData" | "TableMismatchedData" => "report"
      case "TableDataNotConsistent" => "integrity"
      case _ => CallSite.graftFrames(j.site)
          .filter(f => f.obj == "ReconcilePipeline" && Set("report", "integrity")(f.method))
          .lastOption.map(_.method).getOrElse("")
    }
    Map(
      "core.report_s" -> Workload.jobSeconds(v)(j => !isWrite(j) && part(j) == "report"),
      "core.integrity_s" -> Workload.jobSeconds(v)(j => !isWrite(j) && part(j) == "integrity"),
      "core.write_reports_s" -> Workload.jobSeconds(v)(isWrite),
      "core.jobs" -> v.perOp(jobs.count(j =>
        CallSite.graftFrames(j.site).headOption.exists(_.module == "core")).toDouble))
  }
}

// --------------------------------------------------------------------- ingest

/** A merge-on-read graft-delim table under a seeded mix of appends,
  * MERGE upserts, range DELETEs, compactions, pruned reads and full-scan
  * aggregates, checked against the benchmark's own model of the table. */
final class IngestWorkload(env: Env) extends Workload {
  import env._
  import Checks.{Agg, OrderRow}
  import IngestWorkload._

  private val table = "graft_cat.default.bench_orders"
  private val path = s"$dir/bench_orders"
  private val model = new Checks.Model
  private val rng = new scala.util.Random(seed)
  private var nextKey = 10000000L

  /** Bytes of files each traced write created, by operation index. */
  private val written = scala.collection.mutable.HashMap.empty[Int, Long]
  /** Manifest state before the first measured compaction (operation
    * Cycle.size - 1): the same for every run of a seed. */
  private var snapshotAtCompact: Option[(Double, Double)] = None
  private var tracedOps = Set.empty[Int]
  private var prunedMatched = 0L

  override def cycle: Int = Cycle.size

  def setup(): Unit = {
    spark.sql(s"DROP TABLE IF EXISTS $table")
    spark.sql(s"""CREATE TABLE $table
      (o_orderkey BIGINT NOT NULL, o_custkey BIGINT, o_totalprice DOUBLE, o_orderstatus STRING)
      USING `graft-delim` PARTITIONED BY (o_orderstatus)
      OPTIONS (mergeMode 'merge-on-read', rowId 'o_orderkey')
      LOCATION '$path'""")
    spark.sql(Gen.ingestBaseSql(table, seed))
    (0L until Gen.IngestRows).foreach(id => model.upsert(Gen.ingestBaseRow(id, seed)))
  }

  /** Warm-up operations run unshuffled cycles. */
  def op(i: Int): Op = if (i < 0) make(i, Cycle((-1 - i) % Cycle.size)) else {
    val order = new scala.util.Random(seed * 7919 + i / Cycle.size).shuffle(Cycle.init) :+ Cycle.last
    make(i, order(i % Cycle.size))
  }

  private def status(): String = Gen.OrderStatus(rng.nextInt(3))
  private def fresh(): OrderRow = {
    nextKey += 1
    OrderRow(nextKey, rng.nextInt(Gen.Customer) + 1L, rng.nextInt(5000000) / 100d, status())
  }
  private def view(name: String, rows: Seq[OrderRow]): Unit = {
    import spark.implicits._
    rows.map(r => (r.key, r.cust, r.price, r.status))
      .toDF("o_orderkey", "o_custkey", "o_totalprice", "o_orderstatus")
      .createOrReplaceTempView(name)
  }

  /** Prepare operation `i` of `kind`; the model changes after it ran. */
  private def make(i: Int, kind: String): Op = {
    val traced = tracer.active
    def write(rows: Long, sql: String, apply: () => Unit): Op = {
      val before = if (traced) files() else Map.empty[String, Long]
      Op(kind, () => {
        tracer.span(s"sql.$kind", "v2")(spark.sql(sql))
        rows
      }, () => {
        apply()
        if (traced) { written(i) = newBytes(before); tracedOps += i }
        None
      })
    }
    kind match {
      case "insert" =>
        val rows = Seq.fill(InsertRows)(fresh())
        view("bench_ins", rows)
        write(rows.size, s"INSERT INTO $table SELECT * FROM bench_ins",
          () => rows.foreach(model.upsert))
      case "merge" =>
        val updates = Seq.fill(MergeUpdates)(rng.nextInt(Gen.IngestRows) + 1L).distinct
          .filter(model.contains).map(k => k -> rng.nextInt(5000000) / 100d)
        val inserts = Seq.fill(MergeInserts)(fresh())
        view("bench_merge", updates.map { case (k, p) => OrderRow(k, 0L, p, "F") } ++ inserts)
        write(updates.size + inserts.size,
          s"""MERGE INTO $table t USING bench_merge s ON t.o_orderkey = s.o_orderkey
             |WHEN MATCHED THEN UPDATE SET o_totalprice = s.o_totalprice
             |WHEN NOT MATCHED THEN INSERT *""".stripMargin,
          () => { updates.foreach { case (k, p) => model.update(k, p) }
            inserts.foreach(model.upsert) })
      case "delete" =>
        val lo = rng.nextInt(Gen.IngestRows) + 1L
        val hi = lo + DeleteWidth
        val n = model.keys.count(k => k >= lo && k < hi)
        write(n, s"DELETE FROM $table WHERE o_orderkey >= $lo AND o_orderkey < $hi",
          () => model.deleteRange(lo, hi))
      case "compact" =>
        val before = if (traced) files() else Map.empty[String, Long]
        if (i == Cycle.size - 1) snapshotAtCompact = Some(snapshot())
        Op(kind, () => {
          tracer.span("DelimCompact.compact", "v2")(DelimCompact.compact(spark, path))
          0L
        }, () => {
          if (traced) { written(i) = newBytes(before); tracedOps += i }
          None
        })
      case "pruned" =>
        val st = status()
        val lo = rng.nextInt(Gen.IngestRows) + 1L
        val hi = lo + PrunedWidth
        var got: Agg = null
        Op(kind, () => {
          got = tracer.span("sql.pruned", "v2")(agg(spark.sql(
            s"""SELECT count(*), coalesce(sum(o_orderkey), 0), coalesce(sum(o_custkey), 0),
               |       coalesce(sum(o_totalprice), 0D)
               |FROM $table WHERE o_orderstatus = '$st'
               |  AND o_orderkey BETWEEN $lo AND $hi""".stripMargin).head()))
          0L
        }, () => {
          val want = model.pruned(st, lo, hi)
          if (traced) prunedMatched += want.n
          Checks.sameAgg(s"pruned read $st [$lo, $hi]", got, want)
        })
      case "full" =>
        var got: Map[String, Agg] = null
        Op(kind, () => {
          got = tracer.span("sql.full", "v2")(spark.sql(
            s"""SELECT o_orderstatus, count(*), sum(o_orderkey), sum(o_custkey), sum(o_totalprice)
               |FROM $table GROUP BY o_orderstatus""".stripMargin).collect()
            .map(r => r.getString(0) -> Agg(r.getLong(1), r.getLong(2), r.getLong(3),
              r.getDouble(4))).toMap)
          0L
        }, () => Checks.ingestGroups(got, model.byStatus))
    }
  }

  private def agg(r: org.apache.spark.sql.Row): Agg =
    Agg(r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))

  override def finish(): Option[String] = {
    val got = spark.sql(s"SELECT o_orderkey, o_custkey, o_totalprice, o_orderstatus FROM $table")
      .collect().toSeq.map(r => OrderRow(r.getLong(0), r.getLong(1), r.getDouble(2), r.getString(3)))
    Checks.ingestTable(got, model)
  }

  /** Every file under the table root with its size. */
  private def files(): Map[String, Long] = {
    val root = java.nio.file.Paths.get(path)
    val s = java.nio.file.Files.walk(root)
    try s.iterator().asScala.filter(p => java.nio.file.Files.isRegularFile(p))
      .map(p => p.toString -> java.nio.file.Files.size(p)).toMap
    finally s.close()
  }
  private def newBytes(before: Map[String, Long]): Long =
    files().collect { case (f, n) if !before.get(f).contains(n) => n }.sum

  /** (data files, tombstones) of the latest generation, through the
    * table's public snapshot-history procedure. */
  private def snapshot(): (Double, Double) = {
    val r = spark.sql("CALL graft_cat.system.snapshots('default.bench_orders')")
      .orderBy(col("generation").desc).head()
    (r.getAs[Int]("n_files").toDouble, r.getAs[Int]("n_tombstones").toDouble)
  }

  override def layers(v: TraceView): Map[String, Double] = {
    def p50(kinds: Set[String]) = {
      val xs = v.ops.filter(o => kinds(o.kind)).map(_.seconds)
      if (xs.isEmpty) 0.0 else Stats.median(xs)
    }
    val writes = v.ops.filter(o => WriteKinds(o.kind) && tracedOps(o.index))
    val changed = writes.map(_.rows).sum
    val bytesNow = files().values.sum.toDouble
    val bytesPerRow = bytesNow / model.size
    val compacts = v.ops.filter(o => o.kind == "compact" && tracedOps(o.index))
    val prunedRead = v.ops.filter(_.kind == "pruned").flatMap(v.jobsIn).map(_.inputRows).sum.toDouble
    val (mFiles, mTombs) = snapshotAtCompact.getOrElse((0.0, 0.0))
    Map(
      "v2.append_s" -> p50(Set("insert")), "v2.merge_s" -> p50(Set("merge")),
      "v2.delete_s" -> p50(Set("delete")), "v2.compact_s" -> p50(Set("compact")),
      "v2.read_pruned_s" -> p50(Set("pruned")), "v2.read_full_s" -> p50(Set("full")),
      "v2.read_p50_s" -> p50(ReadKinds), "v2.write_p50_s" -> p50(WriteKinds),
      "v2.write_amp" -> (if (changed == 0) 0.0
        else writes.map(o => written.getOrElse(o.index, 0L)).sum / (changed * bytesPerRow)),
      "v2.compact_bytes_rewritten" -> (if (compacts.isEmpty) 0.0
        else compacts.map(o => written.getOrElse(o.index, 0L)).sum.toDouble / compacts.size),
      "v2.manifest_files" -> mFiles, "v2.tombstones" -> mTombs,
      "v2.rows_read_per_row_matched" -> (if (prunedRead == 0) 0.0
        else prunedRead / math.max(1L, prunedMatched)),
      "v2.disk_bytes_per_row" -> bytesPerRow)
  }
}

object IngestWorkload {
  /** One cycle: five writes and five reads; the first nine are shuffled
    * per cycle by the seed, compaction always ends the cycle. */
  val Cycle: Seq[String] = Seq("insert", "insert", "merge", "delete",
    "pruned", "pruned", "pruned", "full", "full", "compact")
  val WriteKinds: Set[String] = Set("insert", "merge", "delete", "compact")
  val ReadKinds: Set[String] = Set("pruned", "full")
  val InsertRows = 500
  val MergeUpdates = 200
  val MergeInserts = 100
  val DeleteWidth = 300
  val PrunedWidth = 3000
}

// ---------------------------------------------------------------------- dedup

/** Near-duplicate clustering forced onto the scale paths: MinHash LSH for
  * pairs and the distributed connected-components loop. */
final class DedupWorkload(env: Env) extends Workload {
  import env._
  private val params = Dedup.MinHashParams(numBands = 16, rowsPerBand = 2, bruteForceMaxDocs = 0)
  private val (docs, groups) = Gen.corpus(seed)
  private val path = s"$dir/documents.parquet"
  private var wantClusters = -1L
  private var lastClusters = 0L

  private def corpus: DataFrame = spark.read.parquet(path)

  def setup(): Unit = {
    import spark.implicits._
    docs.toDF("doc_id", "text").repartition(4).write.mode("overwrite").parquet(path)
  }

  /** The first warm-up operation is the reference: the same call on the
    * driver-side union-find path, whose cluster count every later operation
    * must reproduce. */
  def op(i: Int): Op = if (i == -1) {
    Op("dedup", () => {
      wantClusters = CacheScope.withCached(Dedup.nearDupClusters(corpus, "doc_id", "text", 0.9,
        params).select("cluster_rep").distinct().count())
      docs.size.toLong
    }, () => None)
  } else {
    var got: Seq[(Long, Long)] = Nil
    Op("dedup", () => {
      got = tracer.span("Dedup.nearDupClusters", "ext") {
        CacheScope.withCached(Dedup.nearDupClusters(corpus, "doc_id", "text", 0.9, params,
          maxDriverEdges = 0L).collect().toSeq.map(r => (r.getLong(0), r.getLong(1))))
      }
      docs.size.toLong
    }, () => {
      lastClusters = got.map(_._2).distinct.size.toLong
      Checks.dedup(got, docs.size, groups, wantClusters)
    })
  }

  override def layers(v: TraceView): Map[String, Double] = {
    def kind(f: CallSite.Frame): Option[String] =
      if (f.obj != "Dedup") None
      else if (f.method.startsWith("connectedComponents")) Some("cc")
      else if (f.method.startsWith("minhash") || f.method.startsWith("jaccardPairs")) Some("pairs")
      else None
    def is(k: String)(j: Probe.Job) = CallSite.graftFrames(j.site).flatMap(kind).headOption.contains(k)
    val jobs = v.ops.flatMap(v.jobsIn)
    val (cand, verified) = CacheScope.withCached {
      (Dedup.minhashCandidatePairs(corpus, "doc_id", "text", params).count(),
        Dedup.minhashNearDupPairs(corpus, "doc_id", "text", 0.9, params).count())
    }
    val sig = Dedup.minhashSignature(Text.hashedShingleSet(col("text"), params.shingleN), params)
    val sigS = Stats.median((1 to 3).map { _ =>
      val t0 = System.nanoTime()
      corpus.select(sum(hash(sig))).collect()
      (System.nanoTime() - t0) / 1e9
    })
    Map(
      "ext.pairs_s" -> Workload.jobSeconds(v)(is("pairs")),
      "ext.pairs_jobs" -> v.perOp(jobs.count(is("pairs")).toDouble),
      "ext.cc_s" -> Workload.jobSeconds(v)(is("cc")),
      "ext.cc_jobs" -> v.perOp(jobs.count(is("cc")).toDouble),
      "ext.candidate_pairs" -> cand.toDouble,
      "ext.verified_pairs" -> verified.toDouble,
      "ext.lsh_precision" -> (if (cand == 0) 0.0 else verified.toDouble / cand),
      "ext.clusters" -> lastClusters.toDouble,
      "functions.minhash_sig_s" -> sigS)
  }
}

// --------------------------------------------------------------------- stream

/** Session closing with transformWithState on RocksDB: one AvailableNow
  * run over time-ordered chunk files from a fresh checkpoint per op. */
final class StreamWorkload(env: Env) extends Workload {
  import env._
  private val chunks = s"$dir/chunks"
  private val run = s"$dir/run"
  private lazy val events = Gen.streamEvents(spark, seed)
  private var want: Seq[Checks.Session] = Nil
  private val triggerS = scala.collection.mutable.ArrayBuffer.empty[Double]

  def setup(): Unit = StreamRun.chunkedSource(spark, events, chunks, Gen.StreamChunks)

  override def reference(): Unit =
    want = sessions(Gen.sessionsReference(spark.read.parquet(chunks)))

  private def sessions(df: DataFrame): Seq[Checks.Session] =
    df.select(unix_micros(col("session_start")), col("user_id"), col("n_events"),
      col("sum_value")).collect().toSeq
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))

  def op(i: Int): Op = {
    var res: DataFrame = null
    val traced = tracer.active
    Op("stream", () => {
      val (out, stats) = tracer.span("StreamRun.runAvailableNowUpdateObserved", "stream") {
        import spark.implicits._
        val src = StreamRun.chunkedSource(spark, events, chunks, Gen.StreamChunks)
        val ev = src.select(col("user_id"), col("ts"), col("value"))
          .withWatermark("ts", "1 hour").as[SessionClose.Event]
        StreamRun.runAvailableNowUpdateObserved(
          SessionCloseTws.close(ev, gapMinutes = 30).toDF(), run, noDataBatch = true)
      }
      res = out
      if (traced) triggerS ++= stats.map(_.triggerMs / 1000.0)
      Gen.StreamEvents.toLong
    }, () => Checks.sessions(sessions(res.drop("batch_id")), want))
  }

  override def layers(v: TraceView): Map[String, Double] = {
    val ts = v.ops.flatMap(o => v.triggers.filter(t => t.start >= o.start && t.start <= o.end))
    val last = ts.lastOption
    Map(
      "stream.triggers_per_op" -> v.perOp(ts.size.toDouble),
      "stream.trigger_p50_s" -> (if (triggerS.isEmpty) 0.0 else Stats.median(triggerS.toSeq)),
      "stream.add_batch_s" -> v.perOp(ts.map(_.addBatchS).sum),
      "stream.query_planning_s" -> v.perOp(ts.map(_.planningS).sum),
      "stream.wal_commit_s" -> v.perOp(ts.map(_.walS).sum),
      "stream.state_commit_s" -> v.perOp(ts.map(_.stateCommitS).sum),
      "stream.state_rows" -> last.map(_.stateRows.toDouble).getOrElse(0.0),
      "stream.state_mem_mb" -> (if (ts.isEmpty) 0.0 else ts.map(_.stateMemBytes).max / 1e6))
  }
}
