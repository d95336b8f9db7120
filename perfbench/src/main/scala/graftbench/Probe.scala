package graftbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** What the traced run learns from Spark's own listeners. Registered
  * only for the traced part of a traced run; untraced runs have no
  * listener of the benchmark's on the bus.
  *
  * Jobs carry two attributions: the benchmark span open on the submitting
  * thread (a local property the [[Tracer]] sets), and the call site Spark
  * recorded for the job, from which [[CallSite]] reads the innermost graft
  * function that submitted it.
  */
final class Probe {
  import Probe._

  private val jobsById = mutable.LinkedHashMap.empty[Int, Job]
  private val execSite = mutable.HashMap.empty[Long, String]
  private val execOutput = mutable.HashMap.empty[Long, String] // execution -> file it writes
  private val stageJob = mutable.HashMap.empty[Int, Int]
  private val stagesDone = mutable.HashMap.empty[Int, Int] // job -> completed stages
  private val tasksOf = mutable.HashMap.empty[Int, TaskAgg] // job -> task totals
  private val plans = mutable.ArrayBuffer.empty[Plan]
  private val triggers = mutable.ArrayBuffer.empty[Trigger]

  val sparkListener: SparkListener = new SparkListener {
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart =>
        Probe.this.synchronized {
          execSite(s.executionId) = s.details
          outputOf(s.physicalPlanDescription).foreach(o => execOutput(s.executionId) = o)
        }
      case _ =>
    }

    override def onJobStart(j: SparkListenerJobStart): Unit = Probe.this.synchronized {
      val props = Option(j.properties)
      def prop(k: String) = props.flatMap(p => Option(p.getProperty(k)))
      val span = prop(SpanKey).map(_.toLong).getOrElse(0L)
      val exec = prop("spark.sql.execution.id").map(_.toLong)
      val site = exec.flatMap(execSite.get)
        .orElse(j.stageInfos.headOption.map(_.details)).getOrElse("")
      jobsById(j.jobId) = Job(j.jobId, j.time.toDouble, Double.NaN, span, site,
        exec.getOrElse(-1L), exec.flatMap(execOutput.get).getOrElse(""))
      j.stageIds.foreach(s => stageJob(s) = j.jobId)
    }

    override def onJobEnd(j: SparkListenerJobEnd): Unit = Probe.this.synchronized {
      jobsById.get(j.jobId).foreach(r => jobsById(j.jobId) = r.copy(end = j.time.toDouble))
    }

    override def onStageCompleted(s: SparkListenerStageCompleted): Unit =
      Probe.this.synchronized {
        stageJob.get(s.stageInfo.stageId).foreach { job =>
          stagesDone(job) = stagesDone.getOrElse(job, 0) + 1
        }
      }

    override def onTaskEnd(t: SparkListenerTaskEnd): Unit = Probe.this.synchronized {
      stageJob.get(t.stageId).foreach { job =>
        val m = Option(t.taskMetrics)
        val agg = tasksOf.getOrElseUpdate(job, new TaskAgg)
        agg.tasks += 1
        agg.runMs += m.map(_.executorRunTime).getOrElse(0L)
        agg.maxTaskMs = math.max(agg.maxTaskMs, t.taskInfo.duration)
        agg.shuffleBytes += m.map(_.shuffleWriteMetrics.bytesWritten).getOrElse(0L)
        agg.spillBytes += m.map(x => x.memoryBytesSpilled + x.diskBytesSpilled).getOrElse(0L)
        agg.inputRows += m.map(_.inputMetrics.recordsRead).getOrElse(0L)
      }
    }
  }

  val planListener: QueryExecutionListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      record(qe)
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit =
      record(qe)
    private def record(qe: QueryExecution): Unit = {
      val ph = qe.tracker.phases
      val used = PlanPhases.flatMap(ph.get)
      if (used.nonEmpty) Probe.this.synchronized {
        plans += Plan(used.map(_.startTimeMs).min.toDouble, used.map(_.durationMs).sum / 1000.0)
      }
    }
  }

  val streamListener: StreamingQueryListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      def d(k: String): Double =
        Option(p.durationMs.get(k)).map(_.longValue / 1000.0).getOrElse(0.0)
      val ops = p.stateOperators.toSeq
      Probe.this.synchronized {
        triggers += Trigger(
          java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble,
          d("addBatch"), d("queryPlanning"),
          d("walCommit") + d("commitOffsets"),
          ops.map(_.commitTimeMs).sum / 1000.0,
          ops.map(_.numRowsTotal).sum, ops.map(_.memoryUsedBytes).sum)
      }
    }
  }

  def register(spark: SparkSession): Unit = {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(planListener)
    spark.streams.addListener(streamListener)
  }

  def unregister(spark: SparkSession): Unit = {
    drain(spark.sparkContext)
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(planListener)
    spark.streams.removeListener(streamListener)
  }

  def jobs: Seq[Job] = synchronized {
    jobsById.values.toSeq.map { j =>
      val t = tasksOf.getOrElse(j.id, new TaskAgg)
      j.copy(stages = stagesDone.getOrElse(j.id, 0), tasks = t.tasks, runS = t.runMs / 1000.0,
        maxTaskS = t.maxTaskMs / 1000.0, shuffleBytes = t.shuffleBytes,
        spillBytes = t.spillBytes, inputRows = t.inputRows)
    }
  }
  def planEvents: Seq[Plan] = synchronized(plans.toSeq)
  def triggerEvents: Seq[Trigger] = synchronized(triggers.toSeq)
}

object Probe {
  /** Local property carrying the id of the benchmark span open on the
    * thread that submits a job. */
  val SpanKey = "graftbench.span"

  private val PlanPhases = Seq("analysis", "optimization", "planning")

  private val Write = "InsertIntoHadoopFsRelationCommand"
  private val PathRe = """file:[^\s,\]]+""".r

  /** The path a file write writes to, from its physical plan's description:
    * the first path after the last mention of the write command — its first
    * argument, both in the simple explain mode and in the formatted one,
    * where the command's details follow the plan tree. */
  def outputOf(plan: String): Option[String] = plan.lastIndexOf(Write) match {
    case -1 => None
    case i => PathRe.findFirstIn(plan.substring(i + Write.length))
  }

  /** A Spark job: `exec` is its SQL execution (-1 when none) and `output`
    * the path that execution writes ("" when it writes no file). */
  final case class Job(
      id: Int, start: Double, end: Double, span: Long, site: String,
      exec: Long = -1L, output: String = "",
      stages: Int = 0, tasks: Long = 0, runS: Double = 0, maxTaskS: Double = 0,
      shuffleBytes: Long = 0, spillBytes: Long = 0, inputRows: Long = 0) {
    def finished: Boolean = !end.isNaN
  }

  final case class Plan(start: Double, seconds: Double)

  final case class Trigger(
      start: Double, addBatchS: Double, planningS: Double,
      walS: Double, stateCommitS: Double, stateRows: Long, stateMemBytes: Long)

  private final class TaskAgg {
    var tasks = 0L
    var runMs = 0L
    var maxTaskMs = 0L
    var shuffleBytes = 0L
    var spillBytes = 0L
    var inputRows = 0L
  }

  /** Block until every event posted so far reached the listeners. The
    * bus's drain call is not public API, so it is looked up reflectively;
    * without it the benchmark falls back to a short settle wait.
    */
  def drain(sc: SparkContext): Unit =
    try {
      val bus = sc.getClass.getMethod("listenerBus").invoke(sc)
      bus.getClass.getMethod("waitUntilEmpty").invoke(bus)
    } catch { case _: Exception => Thread.sleep(500) }
}

/** Reads the innermost graft function out of a Spark call site (the
  * stack Spark records for each job, innermost user frame first).
  */
object CallSite {

  final case class Frame(cls: String, method: String) {
    /** graft module: `core`, `ext`, `sources`, `stream`, ... */
    def module: String = cls.split('.').lift(1).getOrElse("")
    def obj: String = cls.split('.').last.stripSuffix("$")
  }

  private val FrameRe = """^\s*(?:at\s+)?([\w.$]+)\.([\w$]+)\(.*""".r

  /** The graft frames of a call site, innermost first. */
  def graftFrames(site: String): Seq[Frame] =
    site.split('\n').toSeq.flatMap {
      case FrameRe(cls, m) if cls.startsWith("graft.") => Some(Frame(cls, normalize(m)))
      case _ => None
    }

  /** Scala's synthetic method names reduced to the source name:
    * `$anonfun$f$3` and `f$lzycompute` are `f`, a local def `g$1` is `g`. */
  def normalize(m: String): String = {
    val s = if (m.contains("$anonfun$")) m.substring(m.indexOf("$anonfun$") + 9) else m
    val base = s.stripSuffix("$lzycompute")
    val cut = base.indexOf('$')
    if (cut > 0) base.substring(0, cut) else base
  }
}
