package graft

import graft.certs.{Cert, TierCheck}

object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // Default to the machine's full parallelism (capped at 32, the target
    // harness size): an unset SPARK_GRAFT_CPUS previously meant local[4],
    // which under-reported throughput ~2x on the 32-core harness.
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      math.min(Runtime.getRuntime.availableProcessors, 32).toString)
    // GraftSession.builder carries the shared runtime confs: UTC zone,
    // legacy nanos parquet, aggregate pushdown (on the default V1 path a
    // count's ReadSchema is struct<> — footers only, the analogue of the
    // reference's stats-served counts; the flag additionally enables
    // PushedAggregation on V2, asserted in PlanAuditSpec), and the
    // RocksDB state store provider with changelog checkpointing as the
    // production default for every stateful streaming query.
    val spark = GraftSession.builder(s"local[$cpus]", cpus.toInt)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    // Steady-state measurement: the first measured pass absorbs the
    // one-time costs — executor startup, parquet footers, Janino compile
    // of each query's generated code — and the per-query min() over
    // passes (below) discards it. Data caches are flushed between
    // passes and queries; only the JVM-wide codegen cache stays warm,
    // which is the steady state a resident engine runs in.
    spark.range(1000).selectExpr("sum(id)").collect()
    // Alphabetical order (map iteration order shifts whenever a query is
    // added, silently reshuffling which queries absorb residual JIT) and
    // a cache flush after each query (operators cache internally; reuse
    // across queries would contaminate the next measurement and grow
    // the heap across 70 queries).
    //
    // SPARK_GRAFT_BENCH_ONLY (comma-separated names) restricts the run —
    // a DIAGNOSIS knob (and the child-JVM protocol of the stream-tier
    // isolation below): re-measuring a query subset alone, in a fresh
    // JVM, separates real plan regressions from accumulated-JVM
    // pressure (round-12 postmortem).
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    val selected = Cert.all.sortBy(_.name)
      .filter(c => only.forall(_.contains(c.name)))
    // the declared tier routes each cert; the listener only checks it
    // (a run that disagrees with its cert's `stream` flag is an error)
    val tiers = new TierCheck(spark)
    // per-query GC seconds (delta of the JVM-wide collector totals):
    // distinguishes "this query's work grew" from "this query paid
    // another query's garbage" when comparing rounds
    import scala.jdk.CollectionConverters._
    def gcMillis: Long = java.lang.management.ManagementFactory
      .getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum
    def measureHere(certs: Seq[Cert]): Seq[(String, Double, Option[String], Double)] =
      certs.map { c =>
        tiers.reset()
        val g0 = gcMillis
        val t0 = System.nanoTime()
        // a failed query is NOT a fast query: record the error message so
        // the bench json distinguishes the two, and exit nonzero below
        val err = try { c.run(spark, sfDir).count(); tiers.mismatch(c) } catch {
          case e: Throwable => Some(Option(e.getMessage).getOrElse(e.getClass.getName))
        }
        val dt = (System.nanoTime() - t0) / 1e9
        val gc = (gcMillis - g0) / 1e3
        spark.catalog.clearCache()
        (c.name, dt, err, gc)
      }
    // MIN-OF-N PASSES (round-20 ask #1): one measured pass is one
    // sample of the shared box, and a load>2 contention phase inflated
    // the round-19 driver reading to 2.50x baseline on byte-identical
    // plans (quiet band 1.67-1.69x). Two FULL passes — separated in
    // time by the length of a pass, so they sample different phases —
    // with the per-query MIN is the standard least-noise estimator:
    // a query's floor is plan-governed, its excursions are the box's.
    // The first pass doubles as the JIT warm, which min() then discards.
    // Default passes: 2 (min-of-2, contended-box robustness). LOW-CORE
    // runs (≤ 8 cores) default to ONE pass: the driver's 8-core scaling
    // bench was killed at its time budget in round 21 (BENCH_r21_c8
    // rc 124 — a 233-query double-pass run that takes 250 s at 32 cores
    // cannot fit the same budget at 8), and a completed single-pass run
    // beats a killed double-pass run for scaling evidence. The 32-core
    // headline methodology is unchanged, and SPARK_GRAFT_BENCH_PASSES
    // still overrides in both directions.
    val passes = sys.env.get("SPARK_GRAFT_BENCH_PASSES")
      .map(_.trim.toInt).filter(_ > 0)
      .getOrElse(if (cpus.toInt <= 8) 1 else 2)
    // Single-pass runs have no second pass to absorb codegen/JIT costs
    // (min-of-2 discards the cold sample). To keep a passes=1 budget
    // run's numbers plan-governed rather than Janino-governed, warm each
    // query ONCE at
    // the smallest sibling scale factor (sf0.001 when the bench runs a
    // larger SF): the plans — and therefore the generated-code cache
    // entries — are scale-independent, while the warm data pass costs
    // milliseconds per query. The measured pass still computes entirely
    // from the bench SF's parquet; nothing about it is cached (the JVM
    // codegen cache is the same steady state the 2-pass protocol keeps).
    val warmSfDir: Option[String] =
      if (passes > 1) None
      else {
        val d = new java.io.File(sfDir)
        Option(d.getParentFile)
          .map(p => new java.io.File(p, "sf0.001"))
          .filter(w => w.isDirectory && w.getPath != d.getPath)
          .map(_.getPath)
      }
    def measureMin(certs: Seq[Cert]): Seq[(String, Double, Option[String], Double)] = {
      warmSfDir.foreach { w =>
        certs.foreach { c =>
          try c.run(spark, w).count() catch { case _: Throwable => () }
          spark.catalog.clearCache()
        }
      }
      (1 to passes).map(_ => measureHere(certs))
        .reduce { (a, b) =>
          a.zip(b).map { case ((n, dt1, e1, g1), (_, dt2, e2, g2)) =>
            // prefer a pass that succeeded; among successes, the faster
            (e1, e2) match {
              case (None, Some(_)) => (n, dt1, e1, g1)
              case (Some(_), None) => (n, dt2, e2, g2)
              case _ => if (dt1 <= dt2) (n, dt1, e1, g1) else (n, dt2, e2, g2)
            }
          }
        }
    }
    // STREAM-TIER ISOLATION (round-17 verdict ask #1): the streaming
    // certifications execute real micro-batch StreamingQueries through
    // RocksDB state, and their wall time in a long-lived shared JVM
    // drifted ±20-50% on byte-identical code (225–275 s full-run spread
    // on one HEAD; isolated fresh-JVM re-measures of the same queries
    // read 2-4x lower). The acceptance bar compares s/q across rounds,
    // so the MEASUREMENT — not the plans — had become the dominant
    // noise term. Fix: measure the stream tier the way the trustworthy
    // diagnosis runs already do — fork a fresh child JVM per small
    // chunk of stream queries (SPARK_GRAFT_BENCH_ONLY protocol; the
    // child runs two measured passes and reports per-query mins, the
    // first pass doubling as its warm run), and adopt the children's
    // per-query seconds. Batch queries are plan-governed and stable;
    // they keep measuring in-process.
    // Forking needs `run / fork := true` (the real classpath in
    // java.class.path); subset (child) runs never re-fork.
    // 12 stream queries per child JVM: few enough fresh-JVM Spark
    // startups (the fixed cost a contended box amplifies ~2x) while a
    // chunk is still small enough that shared-JVM drift cannot
    // accumulate (that failure mode needed a 200+-query JVM lifetime)
    val chunkSize = 12
    val (streamSel, batchSel) = selected.partition(_.stream)
    val canFork = only.isEmpty && streamSel.nonEmpty &&
      new java.io.File(System.getProperty("java.home"), "bin/java").exists()

    def forkChunk(names: Seq[String]): Option[Seq[(String, Double, Option[String], Double)]] = {
      val javaBin = new java.io.File(System.getProperty("java.home"), "bin/java").getPath
      val jvmOpts = java.lang.management.ManagementFactory.getRuntimeMXBean
        .getInputArguments.asScala.toSeq
        .filter(a => a.startsWith("--add-opens") || a.startsWith("--add-exports") ||
          a.startsWith("-X") || a.startsWith("-D"))
      val cmd = (Seq(javaBin) ++ jvmOpts ++
        Seq("-cp", System.getProperty("java.class.path"), "graft.Bench")).asJava
      val pb = new ProcessBuilder(cmd)
      pb.environment().put("SPARK_GRAFT_BENCH_ONLY", names.mkString(","))
      pb.environment().put("SPARK_GRAFT_SF_DIR", sfDir)
      pb.environment().put("SPARK_GRAFT_CPUS", cpus)
      // the children inherit the parent's env (ProcessBuilder copies
      // it), so a PASSES override reaches them implicitly; pin the
      // RESOLVED value explicitly so a low-core parent's passes=1
      // default (below) also governs its stream-tier children
      pb.environment().put("SPARK_GRAFT_BENCH_PASSES", passes.toString)
      pb.redirectErrorStream(false)
      val errFile = java.io.File.createTempFile("graft-bench-child", ".err")
      pb.redirectError(errFile)
      try {
        val p = pb.start()
        val outBytes = p.getInputStream.readAllBytes()
        val exit = p.waitFor()
        val out = new String(outBytes, java.nio.charset.StandardCharsets.UTF_8)
        val line = out.linesIterator.find(_.contains("\"metric\":\"total\""))
        line match {
          case Some(l) =>
            val om = new com.fasterxml.jackson.databind.ObjectMapper()
            val root = om.readTree(l)
            val qs = root.get("queries"); val gcs = root.get("gc_sec")
            val errs = root.get("errors")
            val parsed = names.map { n =>
              val q = Option(qs.get(n))
              if (q.isEmpty) (n, 0.0, Some("missing from child bench output"), 0.0)
              else (n, q.get.asDouble(),
                Option(errs).flatMap(e => Option(e.get(n))).map(_.asText()),
                Option(gcs).flatMap(g => Option(g.get(n))).map(_.asDouble()).getOrElse(0.0))
            }
            // exit != 0 with a parsed line = per-query errors already
            // recorded above; trust the parsed values either way
            Some(parsed)
          case None =>
            System.err.println(s"[bench] child JVM for ${names.mkString(",")} " +
              s"exited $exit without a total line; stderr tail: " +
              scala.util.Try(scala.io.Source.fromFile(errFile).getLines()
                .toSeq.takeRight(5).mkString(" | ")).getOrElse("<unreadable>"))
            None
        }
      } catch {
        case e: Throwable =>
          System.err.println(s"[bench] fork failed for ${names.mkString(",")}: " +
            Option(e.getMessage).getOrElse(e.getClass.getName))
          None
      } finally errFile.delete()
    }

    val batchResults = measureMin(batchSel)
    val streamResults: Seq[(String, Double, Option[String], Double)] =
      if (!canFork) measureMin(streamSel)
      else streamSel.grouped(chunkSize).toSeq.flatMap { chunk =>
        forkChunk(chunk.map(_.name)).getOrElse {
          // fallback: a chunk whose child died measures in-process —
          // worse isolation beats a hole in the bench surface
          measureMin(chunk)
        }
      }
    tiers.close()
    val declaredStream = selected.map(c => c.name -> c.stream).toMap
    // merged, alphabetical (stable output regardless of tier routing)
    val results = (batchResults ++ streamResults).sortBy(_._1)
      .map { case (n, dt, err, gc) =>
        (n, dt, err, gc, declaredStream(n)) }
    val qs = results.map { case (k, v, _, _, _) => s"\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val errs = results
      .collect { case (k, _, Some(e), _, _) => s"${Verify.jsonString(k)}:${Verify.jsonString(e)}" }
      .mkString("{", ",", "}")
    val gcs = results.map { case (k, _, _, g, _) => s"\"" + k + "\":" + g }
      .mkString("{", ",", "}")
    // declared tier per query
    val tierMap = results.map { case (k, _, _, _, s) => s"\"" + k + "\":" + s }
      .mkString("{", ",", "}")
    val total = results.map(_._2).sum
    println(s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"errors":$errs,"gc_sec":$gcs,"stream":$tierMap,"sf":"$sfDir"}""")
    // Compact headline line, printed LAST: the driver keeps only a
    // 2000-char tail of this stdout, and the full per-query maps above
    // overflow it (round 13's artifact carried only the gc_sec tail —
    // no wall times survived). Everything a cross-round comparison
    // needs — total, s/q, the top-10 slowest with times — must fit in
    // the tail, so it goes on its own short final line.
    val slowest = results.sortBy(-_._2).take(10)
      .map { case (k, v, _, _, _) => f""""$k":${v}%.2f""" }
      .mkString("{", ",", "}")
    val nq = results.length
    val spq = if (nq == 0) 0.0 else total / nq
    // per-tier split: round-over-round comparisons should track the
    // batch tier (plan-governed, measured in this JVM) separately from
    // the streaming-cert tier (trigger-cadence wall time, measured in
    // fresh child JVMs — `isolated` says whether forking was active)
    val (streamQ, batchQ) = results.partition(_._5)
    val batchSec = batchQ.map(_._2).sum
    val streamSec = streamQ.map(_._2).sum
    // box-load transparency: the 1-minute load average at the end of
    // the run, so a contaminated reading is diagnosable from the
    // artifact alone (round-19 postmortem: a load>2 phase inflated the
    // driver reading 2.5-3.9x on shuffle tails with zero plan change)
    val loadAvg = java.lang.management.ManagementFactory
      .getOperatingSystemMXBean.getSystemLoadAverage
    println(f"""{"metric":"bench_summary","total_sec":$total%.1f,"n_queries":$nq,"sec_per_query":$spq%.3f,"batch_sec":$batchSec%.1f,"n_batch":${batchQ.length},"stream_sec":$streamSec%.1f,"n_stream":${streamQ.length},"stream_isolated":$canFork,"passes":$passes,"load_avg":$loadAvg%.2f,"slowest":$slowest,"n_errors":${results.count(_._3.isDefined)},"sf":"$sfDir"}""")
    spark.stop()
    if (results.exists(_._3.isDefined)) sys.exit(1)
  }
}
