package graft.tools

import org.apache.spark.sql.functions._

/** Executor-failure recovery certification under local-cluster: beyond
  * ClusterVerify's "serializes and answers correctly across process
  * boundaries", a real cluster also LOSES executors — and the engine's
  * claim is that task retry + idempotent sinks make that invisible to
  * results. This tool makes it happen instead of asserting it:
  *
  *  1. BATCH: a marker-guarded task kills its own executor JVM
  *     (`Runtime.halt`) exactly once mid-aggregation; the standalone
  *     worker relaunches the executor, the stage retries the lost
  *     tasks, and the aggregation must equal the undisturbed answer.
  *  2. STREAMING: the same kill fires inside micro-batch 2 of a bounded
  *     windowed aggregation (complete mode, RocksDB state store). The
  *     engine must retry the batch's tasks, reload state, and the
  *     final emission must equal the batch twin — executor loss is
  *     exactly the at-least-once replay scenario the batch-id-keyed
  *     sink design exists for.
  *
  * The kill is cross-process-exactly-once: `Files.createFile` on a
  * shared marker path is atomic, so precisely one task on one executor
  * halts its JVM; every retry observes the marker and proceeds.
  *
  * Usage: scripts/cluster_verify.sh runs it after the verify pass, or
  *   SPARK_SCALA_VERSION=2.13 sbt "runMain graft.tools.ClusterChaos [sfDir]"
  */
object ClusterChaos {

  /** Halt this executor JVM iff `marker` did not exist yet (atomic
    * create = the only-once guard); driver pid passed so a misconfigured
    * local run can never kill the driver.
    */
  private def killOnce(marker: String, driverPid: Long): Unit = {
    val self = ProcessHandle.current().pid()
    if (self != driverPid) {
      try {
        java.nio.file.Files.createFile(java.nio.file.Paths.get(marker))
        // halt, not exit: shutdown hooks would let Spark unwind politely,
        // and the point is an ungraceful loss
        Runtime.getRuntime.halt(137)
      } catch { case _: java.nio.file.FileAlreadyExistsException => () }
    }
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    require(sys.env.contains("SPARK_HOME"),
      "local-cluster mode needs SPARK_HOME to launch executor JVMs")
    val spark = graft.GraftSession.builder("local-cluster[2,16,4096]", 32)
      .config("spark.executor.extraClassPath", sys.props("java.class.path"))
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    import spark.implicits._
    val driverPid = ProcessHandle.current().pid()
    val root = java.nio.file.Files.createTempDirectory("graft_chaos").toString

    // ---- 1. batch: kill an executor mid-aggregation ----------------
    val li = graft.core.Tables.lineitem(spark, sfDir)
    val expected = li.groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("cnt"), round(sum(col("l_quantity")), 2).as("qty"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSet
    val pidsBefore = spark.range(0, 64, 1, 64)
      .map(_ => ProcessHandle.current().pid()).distinct().collect().toSet
    val marker1 = s"$root/kill_batch"
    val chaotic = li.mapPartitions { it =>
      killOnce(marker1, driverPid); it
    }(org.apache.spark.sql.Encoders.row(li.schema))
      .groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("cnt"), round(sum(col("l_quantity")), 2).as("qty"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSet
    require(java.nio.file.Files.exists(java.nio.file.Paths.get(marker1)),
      "the chaos task never ran — nothing was certified")
    require(chaotic == expected,
      s"aggregation changed under executor loss: $chaotic vs $expected")
    // the worker relaunches the lost executor ASYNCHRONOUSLY — poll
    // until the replacement JVM shows up in task placement (a probe run
    // too early lands every task on the survivor)
    val deadline = System.currentTimeMillis() + 60000L
    var pidsAfter = Set.empty[Long]
    while ((pidsAfter -- pidsBefore).isEmpty &&
        System.currentTimeMillis() < deadline) {
      Thread.sleep(1000L)
      pidsAfter = spark.range(0, 64, 1, 64)
        .map(_ => ProcessHandle.current().pid()).distinct().collect().toSet
    }
    require((pidsAfter -- pidsBefore).nonEmpty,
      s"no replacement executor observed: before=$pidsBefore after=$pidsAfter")
    println(s"CHAOS batch OK: executor killed (pids $pidsBefore -> " +
      s"$pidsAfter), aggregation unchanged (${expected.size} groups)")

    // ---- 2. streaming: kill an executor inside micro-batch 2 -------
    val ev = graft.core.Tables.events(spark, sfDir)
    val marker2 = s"$root/kill_stream"
    val src = graft.stream.StreamRun.chunkedSource(
      spark, ev, s"$root/chunks", 4)
    val armed = src.mapPartitions { it =>
      // arm only once files are flowing; batch 1 creates the trigger
      // marker, batch 2's first task on the surviving marker-free
      // executor halts — the guard file makes it exactly once overall
      killOnce(marker2, driverPid); it
    }(org.apache.spark.sql.Encoders.row(src.schema))
    val (got, _) = graft.stream.StreamRun.runAvailableNow(
      graft.stream.EventWindows.tumblingStream(armed, "1 hour", "1 hour"),
      s"$root/run", graft.stream.StreamRun.Sink.Complete)
    require(java.nio.file.Files.exists(java.nio.file.Paths.get(marker2)),
      "the streaming chaos task never ran")
    val want = graft.stream.EventWindows.tumbling(ev, "1 hour")
    val d1 = got.exceptAll(want).count(); val d2 = want.exceptAll(got).count()
    require(d1 == 0 && d2 == 0,
      s"streaming result diverged under executor loss: +$d1 -$d2 rows")
    println(s"CHAOS stream OK: executor killed mid-run, " +
      s"${got.count()} windows equal the batch twin")

    // ---- 3. write path: kill an executor inside the INSERT OVERWRITE
    // write stage. The commit-protocol claim: a halted executor's
    // in-flight task attempts (files half-written under _temporary /
    // the dynamic-overwrite staging dir) are DISCARDED, the retried
    // attempts' files are the only ones promoted at job commit — so
    // the table holds exactly the source rows, one file per partition
    // (the repartition clustering survives retry), and no staging
    // residue remains. This is the fault axis a 100 TB nightly load
    // actually fears: not wrong answers, duplicated-or-partial FILES.
    val marker3 = s"$root/kill_write"
    spark.sql("DROP TABLE IF EXISTS graft_chaos_cat")
    spark.sql(
      s"""CREATE TABLE graft_chaos_cat
         |  (o_orderkey BIGINT, o_totalprice DOUBLE, om STRING)
         |USING parquet PARTITIONED BY (om) LOCATION '$root/cat'""".stripMargin)
    val srcW = graft.core.Tables.orders(spark, sfDir)
      .select(col("o_orderkey"), col("o_totalprice"),
        date_format(col("o_orderdate"), "yyyy-MM").as("om"))
    val expectedW = srcW.groupBy("om")
      .agg(count(lit(1)).as("n"), round(sum("o_totalprice"), 2).as("s"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSet
    // repartition BEFORE the kill hook: mapPartitions preserves the
    // clustering physically, so the kill fires inside a task of the
    // WRITE stage (post-shuffle), not the scan stage
    val armedW = srcW.repartition(col("om")).mapPartitions { it =>
      killOnce(marker3, driverPid); it
    }(org.apache.spark.sql.Encoders.row(srcW.schema))
    armedW.createOrReplaceTempView("graft_chaos_src")
    spark.sql(
      """INSERT OVERWRITE TABLE graft_chaos_cat PARTITION (om)
        |SELECT o_orderkey, o_totalprice, om FROM graft_chaos_src""".stripMargin)
    require(java.nio.file.Files.exists(java.nio.file.Paths.get(marker3)),
      "the write-path chaos task never ran")
    val afterW = spark.table("graft_chaos_cat").groupBy("om")
      .agg(count(lit(1)).as("n"), round(sum("o_totalprice"), 2).as("s"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSet
    require(afterW == expectedW,
      s"table content diverged under executor loss during the write")
    val catDir = new java.io.File(s"$root/cat")
    val residue = catDir.listFiles().filter(f =>
      f.getName == "_temporary" || f.getName.startsWith(".spark-staging"))
    require(residue.isEmpty,
      s"staging residue survived job commit: ${residue.map(_.getName).toSeq}")
    val badDirs = catDir.listFiles().filter(_.isDirectory)
      .filterNot(f => f.getName.startsWith("_") || f.getName.startsWith("."))
      .filter { d =>
        d.listFiles().count(f => f.isFile && !f.getName.startsWith(".") &&
          !f.getName.startsWith("_")) != 1
      }
    require(badDirs.isEmpty,
      "retry broke the one-file-per-partition clustering (duplicate " +
        s"or missing part files) in: ${badDirs.map(_.getName).toSeq}")
    println(s"CHAOS write OK: executor killed inside the INSERT OVERWRITE " +
      s"write stage; ${expectedW.size} partitions exact, one file each, " +
      "no staging residue")
    spark.sql("DROP TABLE graft_chaos_cat")
    spark.stop()
    println("CLUSTER CHAOS OK")
  }
}
