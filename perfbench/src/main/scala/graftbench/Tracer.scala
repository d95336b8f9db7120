package graftbench

import scala.collection.mutable.ArrayBuffer

/** One traced interval: a public call the benchmark made (or the
  * operation that encloses them). Times are epoch milliseconds, the
  * clock Spark's listener events use, so spans and jobs compare directly.
  */
final case class Span(
    id: Long, name: String, layer: String, opId: Int, parent: Long,
    start: Double, end: Double) {
  def dur: Double = end - start
}

/** A Spark job as seen by the listener, attributed to the span that was
  * open on the submitting thread.
  */
final case class JobSpan(jobId: Int, spanId: Long, start: Double, end: Double)

/** In-memory span recorder. Inactive, it runs the body and records
  * nothing, so untraced runs pay one branch per call.
  *
  * `onEnter` is told which span is current whenever that changes; the
  * benchmark uses it to set a Spark local property, so every job the body
  * submits carries the id of the span that caused it.
  */
final class Tracer(onEnter: Long => Unit = _ => ()) {
  @volatile var active = false
  private val done = ArrayBuffer.empty[Span]
  private var stack: List[(Long, String, String, Double)] = Nil
  private var nextId = 1L
  private var op = -1

  /** Operation id stamped on spans opened from now on. */
  def setOp(id: Int): Unit = op = id

  def span[A](name: String, layer: String)(body: => A): A =
    if (!active) body
    else {
      val id = nextId
      nextId += 1
      stack = (id, name, layer, Clock.nowMs()) :: stack
      onEnter(id)
      try body
      finally {
        val (_, n, l, t0) = stack.head
        stack = stack.tail
        val parent = stack.headOption.map(_._1).getOrElse(0L)
        done += Span(id, n, l, op, parent, t0, Clock.nowMs())
        onEnter(parent)
      }
    }

  def spans: Seq[Span] = done.toSeq
}

object Clock {
  /** Epoch milliseconds with sub-millisecond resolution. */
  def nowMs(): Double = {
    val i = java.time.Instant.now()
    i.getEpochSecond * 1000.0 + i.getNano / 1e6
  }
}

/** Self time: a span's duration minus the part of it that its child spans
  * and its own Spark jobs cover. Summed over a tree, self time plus the
  * job time charged to each span equals the root's duration.
  */
object SelfTime {

  /** Length of the union of `ivs`, each clipped to [lo, hi]. */
  def covered(lo: Double, hi: Double, ivs: Seq[(Double, Double)]): Double = {
    val clipped = ivs.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var total = 0.0
    var curA = Double.NaN
    var curB = Double.NaN
    clipped.foreach { case (a, b) =>
      if (curA.isNaN) { curA = a; curB = b }
      else if (a <= curB) curB = math.max(curB, b)
      else { total += curB - curA; curA = a; curB = b }
    }
    if (!curA.isNaN) total += curB - curA
    total
  }

  /** Per span: (self ms, job ms) — job ms is the time the span's own jobs
    * cover that no child span already covers.
    */
  def apply(spans: Seq[Span], jobs: Seq[JobSpan]): Map[Long, (Double, Double)] = {
    val children = spans.groupBy(_.parent)
    val ownJobs = jobs.groupBy(_.spanId)
    spans.map { s =>
      val kids = children.getOrElse(s.id, Nil).map(c => (c.start, c.end))
      val js = ownJobs.getOrElse(s.id, Nil).map(j => (j.start, j.end))
      val all = covered(s.start, s.end, kids ++ js)
      val kidsOnly = covered(s.start, s.end, kids)
      s.id -> (s.dur - all, all - kidsOnly)
    }.toMap
  }
}
