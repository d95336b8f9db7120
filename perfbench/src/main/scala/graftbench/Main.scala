package graftbench

import java.lang.management.ManagementFactory

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

import graft.GraftSession

/** One benchmark run: set the workload up several times (the median is
  * `setup_s`), then run its operations in a closed loop — one client
  * thread, the next operation starting when the previous one returned —
  * for the given number of seconds, checking every result.
  *
  * A traced run spends the first half of its window untraced and the
  * second half traced, so the tracing overhead is measured in the same
  * process; only the traced half feeds the per-layer metrics.
  *
  * Usage (normally through run.py, which builds the classpath):
  * {{{
  * graftbench.Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *   --root <scratch dir> --out <result.json> [--source <id>]
  * }}}
  */
object Main {

  /** Set-ups per run; `setup_s` is their median. */
  val Setups = 3

  final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean,
      root: String, out: String, source: String)

  def parse(args: Array[String]): Args = {
    val m = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }
      .toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Args(need("workload"), need("seed").toLong, need("seconds").toInt, need("trace") == "1",
      need("root"), need("out"), m.getOrElse("source", "unknown"))
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    require(Workload.Names.contains(a.workload), s"unknown workload ${a.workload}")
    val cores = Runtime.getRuntime.availableProcessors
    val env0 = Map("nproc" -> cores.toString, "master" -> s"local[$cores]",
      "xmx_mb" -> (Runtime.getRuntime.maxMemory >> 20).toString,
      "load_start" -> loadAvg(), "source" -> a.source, "seed" -> a.seed.toString,
      "workload" -> a.workload, "seconds" -> a.seconds.toString, "trace" -> (if (a.trace) "1" else "0"))
    if (a.trace) System.setProperty("spark.callstack.depth", "200")

    HeapPeak.install()
    HostProbe.start()
    var spark: SparkSession = null
    val tracer = new Tracer(id => if (spark != null)
      spark.sparkContext.setLocalProperty(Probe.SpanKey, if (id == 0) null else id.toString))
    val failures = ArrayBuffer.empty[String]
    var attempted = 0
    var failed = 0

    // ---- set-up, several times: a fresh session and freshly generated
    // inputs each time (the first includes the JVM start); then warm-up
    val setupS = ArrayBuffer.empty[Double]
    var w: Workload = null
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime.toDouble
    for (k <- 0 until Setups) {
      val t0 = if (k == 0) jvmStart else Clock.nowMs()
      if (spark != null) {
        spark.stop()
        graft.core.Scratch.rmTree(s"${a.root}/setup${k - 1}")
      }
      spark = GraftSession.create(s"local[$cores]", cores)
      spark.sparkContext.setLogLevel("WARN")
      w = Workload(a.workload, Env(spark, s"${a.root}/setup$k", a.seed, tracer))
      w.setup()
      setupS += (Clock.nowMs() - t0) / 1000.0
    }
    w.reference()
    val warm0 = Clock.nowMs()
    val warmS = (1 to w.warmupOps).map { j =>
      val op = w.op(-j)
      val t0 = Clock.nowMs()
      op.run()
      val t1 = Clock.nowMs()
      op.check().foreach(e => failures += s"warm-up: $e")
      (t1 - t0) / 1000.0
    }
    val warmupS = (Clock.nowMs() - warm0) / 1000.0

    // ---- measurement: closed loop, one client thread
    val ops = ArrayBuffer.empty[OpRec]
    val probe = new Probe
    val begin = Clock.nowMs()
    val deadline = begin + a.seconds * 1000.0
    def runOne(i: Int): Unit = {
      attempted += 1
      tracer.setOp(i)
      // each cycle starts from a collected heap, so the heap peak of an
      // operation does not carry garbage left by earlier ones
      if (i % w.cycle == 0) System.gc()
      try {
        val op = w.op(i)
        val gc0 = gcTotalMs()
        HeapPeak.arm()
        HostProbe.armed = true
        val t0 = Clock.nowMs()
        val rows = tracer.span("op", "client")(op.run())
        val t1 = Clock.nowMs()
        HeapPeak.disarm()
        HostProbe.armed = false
        val gcMs = gcTotalMs() - gc0
        val err = op.check()
        err.foreach { e => failed += 1; failures += s"op $i (${op.kind}): $e" }
        ops += OpRec(i, op.kind, t0, t1, rows, err.isEmpty, gcMs)
      } catch {
        case e: Exception =>
          failed += 1
          failures += s"op $i: ${e.getClass.getSimpleName}: ${e.getMessage}".take(500)
      }
    }
    val cycle = w.cycle
    // Whole cycles from operation `from` on, while the next one is
    // predicted (by the median cycle so far) to end no more than half a
    // cycle after `end`: the time measured is the window's length rounded
    // to whole cycles, not the window plus up to a cycle. At least one.
    def measure(from: Int, end: Double): Int = {
      var i = from
      val cycleMs = ArrayBuffer.empty[Double]
      while (cycleMs.isEmpty || Clock.nowMs() + Stats.median(cycleMs.toSeq) / 2 <= end) {
        val t0 = Clock.nowMs()
        (i until i + cycle).foreach(runOne)
        i += cycle
        cycleMs += Clock.nowMs() - t0
      }
      i
    }
    val firstTraced = measure(0, if (a.trace) begin + a.seconds * 500.0 else deadline)
    var i = firstTraced
    if (a.trace) {
      probe.register(spark)
      tracer.active = true
      i = measure(firstTraced, deadline)
      tracer.active = false
      probe.unregister(spark)
    }
    val measured = Clock.nowMs()
    w.finish().foreach { e => failed += 1; attempted += 1; failures += s"final state: $e" }

    // statistics use complete cycles of successful operations only; an
    // end-to-end operation is one cycle (a single operation for every
    // workload but ingest, whose cycle is its ten-statement mix)
    def complete(from: Int, until: Int): Seq[OpRec] =
      ops.toSeq.filter(o => o.index >= from && o.index < until && o.ok)
        .groupBy(_.index / cycle).values.filter(_.size == cycle).flatten.toSeq.sortBy(_.index)
    def cycleSeconds(xs: Seq[OpRec]): Seq[Double] =
      xs.groupBy(_.index / cycle).toSeq.sortBy(_._1).map(_._2.map(_.seconds).sum)
    val untraced = complete(0, firstTraced)
    val traced = complete(firstTraced, i)
    val main = if (a.trace) traced else untraced
    if (main.isEmpty) failures += "no operation completed"
    val opT = Stats.timing(if (main.isEmpty) Seq(0.0) else cycleSeconds(main))
    val rssMb = vmHwmMb()
    val heapMb = HeapPeak.peakBytes / 1048576.0

    val rowsPerS = if (main.isEmpty) 0.0 else main.map(_.rows).sum / main.map(_.seconds).sum
    val slowdown = HostProbe.slowdown()
    val endToEnd = Map(
      "setup_s" -> Stats.median(setupS.toSeq),
      "op_p50_norm_s" -> opT.p50 / slowdown,
      "rows_per_norm_s" -> rowsPerS * slowdown)

    val perLayer: Map[String, Double] =
      if (!a.trace) Map.empty
      else {
        val view = TraceView(traced, probe.jobs.filter(_.finished), probe.triggerEvents)
        val generic = layerMetrics(view, tracer.spans, probe.planEvents,
          if (untraced.isEmpty) 0.0 else Stats.median(cycleSeconds(untraced)), cycle)
        generic ++ w.layers(view) ++
          Map("jvm.rss_peak_mb" -> rssMb, "jvm.heap_peak_mb" -> heapMb)
      }

    def since(t: Double) = f"${(t - jvmStart) / 1000.0}%.1f"
    val env = env0 ++ Map("load_end" -> loadAvg(), "warmup_s" -> f"$warmupS%.3f",
      "host_slowdown" -> f"$slowdown%.4f", "host_probes" -> HostProbe.count.toString,
      "op_p50_s" -> f"${opT.p50}%.4f", "rows_per_s" -> f"$rowsPerS%.1f",
      "phases_s" -> Seq(warm0, begin, measured, Clock.nowMs()).map(since).mkString(","),
      "setup_runs_s" -> setupS.map(x => f"$x%.3f").mkString(","))
    val byKind = main.groupBy(_.kind)
    val timings = Map("setup_s" -> Stats.timing(setupS.toSeq), "op_s" -> opT) ++
      (if (byKind.size < 2) Nil
       else byKind.map { case (k, xs) => s"op_s[$k]" -> Stats.timing(xs.map(_.seconds)) })
    println(s"workload=${a.workload} seed=${a.seed} trace=${if (a.trace) 1 else 0} " +
      env.toSeq.sorted.map { case (k, v) => s"$k=$v" }.mkString(" "))
    timings.toSeq.sortBy(_._1).foreach { case (k, t) => println(s"  $k ${t.describe("s")}") }
    println("  warm-up cycles: " + warmS.grouped(cycle).map(c => f"${c.sum}%.3f").mkString(" "))
    println("  op_s all: " + cycleSeconds(main).map(x => f"$x%.3f").mkString(" "))
    val values = if (a.trace) perLayer else endToEnd
    failures.take(20).foreach(f => println(s"  FAILED $f"))

    val correct = failed == 0 && failures.isEmpty
    Json.write(a.out, Map(
      "correct" -> correct, "attempted" -> attempted, "failed" -> failed,
      "metrics" -> values, "env" -> env,
      "samples" -> timings.map { case (k, t) => k -> Map("n" -> t.n, "p50" -> t.p50,
        "tail_pct" -> t.tail.map(_._1).getOrElse(0.0),
        "tail" -> t.tail.map(_._2).getOrElse(0.0)) },
      "failures" -> failures.toSeq))
    // The result is on disk and the process is done: halting skips Spark's
    // shutdown hooks (stopping the context, deleting its temp files), which
    // cost seconds per run; run.py removes the run's whole scratch tree.
    System.out.flush()
    Runtime.getRuntime.halt(0)
  }

  /** The workload-independent layer metrics of a traced window; "per op"
    * is per measured operation, one cycle of the workload's mix. */
  def layerMetrics(v: TraceView, spans: Seq[Span], plans: Seq[Probe.Plan],
      untracedP50: Double, cycle: Int): Map[String, Double] = {
    val ops = v.ops
    def perOp(x: Double) = if (ops.isEmpty) 0.0 else x * cycle / ops.size
    val byOp = ops.map(o => o -> v.jobsIn(o))
    val jobs = byOp.flatMap(_._2)
    val inWindow = (t: Double) => ops.exists(o => t >= o.start && t <= o.end)
    val opIds = ops.map(_.index).toSet
    val opSpans = spans.filter(s => opIds(s.opId))
    val self = SelfTime(opSpans, v.jobs.map(j => JobSpan(j.id, j.span, j.start, j.end)))
    def selfOf(layer: String) =
      perOp(opSpans.filter(_.layer == layer).map(s => self(s.id)._1).sum / 1000.0)
    val jobMs = opSpans.map(s => self(s.id)._2).sum
    val tracedP50 = if (ops.isEmpty) 0.0
      else Stats.median(ops.groupBy(_.index / cycle).values.map(_.map(_.seconds).sum).toSeq)
    Map(
      "spark.jobs_per_op" -> perOp(jobs.size.toDouble),
      "spark.stages_per_op" -> perOp(jobs.map(_.stages).sum.toDouble),
      "spark.tasks_per_op" -> perOp(jobs.map(_.tasks).sum.toDouble),
      "spark.plan_s_per_op" -> perOp(plans.filter(p => inWindow(p.start)).map(_.seconds).sum),
      "spark.driver_gap_s_per_op" -> perOp(byOp.map { case (o, js) =>
        o.seconds - SelfTime.covered(o.start, o.end, js.map(j => (j.start, j.end))) / 1000.0 }.sum),
      "spark.job_s_per_op" -> perOp(jobMs / 1000.0),
      "spark.task_run_s_per_op" -> perOp(jobs.map(_.runS).sum),
      "spark.task_max_s" -> (if (ops.isEmpty) 0.0
        else Stats.median(byOp.map(_._2.map(_.maxTaskS).maxOption.getOrElse(0.0)))),
      "spark.shuffle_mb_per_op" -> perOp(jobs.map(_.shuffleBytes).sum / 1e6),
      "spark.spill_mb_per_op" -> perOp(jobs.map(_.spillBytes).sum / 1e6),
      "spark.input_rows_per_op" -> perOp(jobs.map(_.inputRows).sum.toDouble),
      "spark.gc_s_per_op" -> perOp(ops.map(_.gcMs).sum / 1000.0),
      "self.client_s" -> selfOf("client"), "self.core_s" -> selfOf("core"),
      "self.v2_s" -> selfOf("v2"), "self.ext_s" -> selfOf("ext"),
      "self.stream_s" -> selfOf("stream"),
      "trace.op_p50_s" -> tracedP50,
      "trace.overhead_s" -> (tracedP50 - untracedP50))
  }

  private def gcTotalMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum

  private def loadAvg(): String =
    try scala.io.Source.fromFile("/proc/loadavg").mkString.split(' ').take(3).mkString(",")
    catch { case _: Exception => f"${ManagementFactory.getOperatingSystemMXBean.getSystemLoadAverage}%.2f" }

  /** Peak resident set size of this process (VmHWM), in MB. */
  def vmHwmMb(): Double =
    try {
      val line = scala.io.Source.fromFile("/proc/self/status").getLines()
        .find(_.startsWith("VmHWM:")).get
      line.split("\\s+")(1).toDouble / 1024.0
    } catch {
      case _: Exception =>
        ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
    }
}

/** How fast the host ran this process while operations ran. A daemon
  * thread times a small fixed kernel every 200 ms in its own CPU time, so
  * waiting for a processor does not count but a processor slowed by other
  * tenants of the host does. The wall time of the same code on a shared
  * host drifted by up to 1.8x within minutes; `slowdown` is the median
  * kernel time over [[NominalMs]], the factor by which the host ran slower
  * than nominal. */
object HostProbe {
  /** The kernel's median CPU time on an unloaded 4-vCPU VM. */
  val NominalMs = 5.0
  @volatile var armed = false
  private val samples = new java.util.concurrent.ConcurrentLinkedQueue[Double]()
  private val data = { val r = new java.util.Random(7); Array.fill(1 << 16)(r.nextInt()) }
  @volatile private var sink = 0L

  private def kernel(): Long = {
    val a = data.clone()
    java.util.Arrays.sort(a)
    a(a.length / 2).toLong
  }

  def start(): Unit = {
    val bean = ManagementFactory.getThreadMXBean
    val t = new Thread(() => while (true) {
      val c0 = bean.getCurrentThreadCpuTime
      sink += kernel()
      val c1 = bean.getCurrentThreadCpuTime
      if (armed) samples.add((c1 - c0) / 1e6)
      Thread.sleep(200)
    }, "host-probe")
    t.setDaemon(true)
    t.start()
  }

  def count: Int = samples.size
  def slowdown(): Double =
    if (samples.isEmpty) 1.0 else Stats.median(samples.asScala.toSeq) / NominalMs
}

/** Peak heap occupancy right after a garbage collection, over the
  * collections that ran while armed: the memory an operation needed live,
  * without the garbage a collector had not yet reclaimed. */
object HeapPeak {
  import javax.management.{Notification, NotificationEmitter, NotificationListener}
  import com.sun.management.GarbageCollectionNotificationInfo

  @volatile private var armed = false
  @volatile private var peak = 0L
  private lazy val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == java.lang.management.MemoryType.HEAP).map(_.getName).toSet

  def install(): Unit = ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
    case e: NotificationEmitter => e.addNotificationListener(new NotificationListener {
      def handleNotification(n: Notification, handback: Any): Unit =
        if (armed && n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
          val info = GarbageCollectionNotificationInfo.from(
            n.getUserData.asInstanceOf[javax.management.openmbean.CompositeData])
          val used = info.getGcInfo.getMemoryUsageAfterGc.asScala
            .collect { case (pool, u) if heapPools(pool) => u.getUsed }.sum
          synchronized { if (used > peak) peak = used }
        }
    }, null, null)
    case _ =>
  }
  def arm(): Unit = armed = true
  def disarm(): Unit = armed = false
  def peakBytes: Long = peak
}

/** Minimal JSON writer for the result file (maps, sequences, strings,
  * numbers and booleans). */
object Json {
  def render(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => render(x)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case s: String => quote(s)
    case m: Map[_, _] =>
      m.toSeq.map { case (k, x) => s"${quote(k.toString)}: ${render(x)}" }
        .sorted.mkString("{", ", ", "}")
    case xs: Iterable[_] => xs.map(render).mkString("[", ", ", "]")
    case other => quote(other.toString)
  }

  def quote(s: String): String = {
    val sb = new StringBuilder("\"")
    s.foreach {
      case '"' => sb.append("\\\"")
      case '\\' => sb.append("\\\\")
      case '\n' => sb.append("\\n")
      case c if c < ' ' => sb.append(f"\\u${c.toInt}%04x")
      case c => sb.append(c)
    }
    sb.append('"').toString
  }

  def write(path: String, v: Any): Unit =
    java.nio.file.Files.writeString(java.nio.file.Paths.get(path), render(v) + "\n")
}
