package graftbench

import scala.collection.mutable

/** Correctness checks. Each takes the engine's output as plain values and
  * returns None when it is right, or a one-line reason when it is not, so
  * the checks run (and are tested) without Spark.
  */
object Checks {

  val Matched = "matched"
  val Mismatched = "mismatched"
  val MissingInTarget = "missing_in_target"
  val MissingInSource = "missing_in_source"

  // -------------------------------------------------------------- reconcile

  final case class CountRow(table: String, partition: Option[String],
      src: Option[Long], tgt: Option[Long]) {
    def status: String = (src, tgt) match {
      case (None, _) => MissingInSource
      case (_, None) => MissingInTarget
      case (Some(a), Some(b)) if a == b => Matched
      case _ => Mismatched
    }
  }

  /** The generator's expected UC#1 report and UC#2 inconsistent rows. */
  final case class ReconcileTruth(report: Seq[CountRow], inconsistent: Seq[CountRow])

  /** The three CSV reports as read back from disk. */
  final case class Reports(
      matched: Seq[(String, Option[String], Long)],
      mismatched: Seq[(String, Option[String], Option[Long], Option[Long], String)],
      notConsistent: Seq[(String, Option[String], Option[Long], Option[Long])])

  def reconcile(got: Reports, truth: ReconcileTruth): Option[String] = {
    val wantMatched = truth.report.filter(_.status == Matched)
      .map(r => (r.table, r.partition, r.src.get))
    val wantMismatched = truth.report.filter(_.status != Matched)
      .map(r => (r.table, r.partition, r.src, r.tgt, r.status))
    val wantInconsistent = truth.inconsistent.map(r => (r.table, r.partition, r.src, r.tgt))
    sameBag("MatchedData", got.matched, wantMatched)
      .orElse(sameBag("TableMismatchedData", got.mismatched, wantMismatched))
      .orElse(sameBag("TableDataNotConsistent", got.notConsistent, wantInconsistent))
  }

  // ----------------------------------------------------------------- ingest

  final case class OrderRow(key: Long, cust: Long, price: Double, status: String)

  /** Aggregate a read returns: rows, key sum, customer sum, price sum. */
  final case class Agg(n: Long, keys: Long, custs: Long, price: Double) {
    def +(r: OrderRow): Agg = Agg(n + 1, keys + r.key, custs + r.cust, price + r.price)
  }
  object Agg { val Zero: Agg = Agg(0, 0, 0, 0.0) }

  /** The benchmark's own model of the ingest table, kept from its op log. */
  final class Model {
    private val rows = mutable.LongMap.empty[OrderRow]
    def size: Int = rows.size
    def upsert(r: OrderRow): Unit = rows(r.key) = r
    def update(key: Long, price: Double): Boolean = rows.get(key) match {
      case Some(r) => rows(key) = r.copy(price = price); true
      case None => false
    }
    def deleteRange(lo: Long, hi: Long): Int = {
      val gone = rows.keysIterator.filter(k => k >= lo && k < hi).toVector
      gone.foreach(rows.remove)
      gone.size
    }
    def contains(key: Long): Boolean = rows.contains(key)
    def keys: Iterator[Long] = rows.keysIterator
    def all: Iterable[OrderRow] = rows.values
    def pruned(status: String, lo: Long, hi: Long): Agg =
      rows.valuesIterator.filter(r => r.status == status && r.key >= lo && r.key <= hi)
        .foldLeft(Agg.Zero)(_ + _)
    def byStatus: Map[String, Agg] =
      rows.valuesIterator.foldLeft(Map.empty[String, Agg]) { (m, r) =>
        m.updated(r.status, m.getOrElse(r.status, Agg.Zero) + r) }
  }

  /** Price sums are compared to the cent, relative to their size. */
  def sameAgg(what: String, got: Agg, want: Agg): Option[String] =
    if (got.n == want.n && got.keys == want.keys && got.custs == want.custs &&
        math.abs(got.price - want.price) <= 0.01 + 1e-9 * math.abs(want.price)) None
    else Some(s"$what: got $got, want $want")

  def ingestGroups(got: Map[String, Agg], want: Map[String, Agg]): Option[String] =
    if (got.keySet != want.keySet) Some(s"groups: got ${got.keySet}, want ${want.keySet}")
    else want.keys.toSeq.sorted.flatMap(k => sameAgg(s"group $k", got(k), want(k))).headOption

  def ingestTable(got: Seq[OrderRow], model: Model): Option[String] = {
    val want = model.all.map(r => r.key -> r).toMap
    val g = got.map(r => r.key -> r).toMap
    if (g.size != got.size) Some(s"final table: ${got.size - g.size} duplicate keys")
    else if (g.keySet != want.keySet)
      Some(s"final table: ${(g.keySet -- want.keySet).size} unexpected keys, " +
        s"${(want.keySet -- g.keySet).size} missing keys")
    else want.values.find(r => g(r.key) != r)
      .map(r => s"final table: key ${r.key} is ${g(r.key)}, want $r")
  }

  // ------------------------------------------------------------------ dedup

  /** Every document assigned once, every planted group inside one
    * cluster, and the cluster count equal to the reference path's. */
  def dedup(assign: Seq[(Long, Long)], nDocs: Int, groups: Seq[Seq[Long]],
      wantClusters: Long): Option[String] = {
    val rep = assign.toMap
    if (assign.size != nDocs || rep.size != nDocs)
      Some(s"${assign.size} assignments for ${rep.size} distinct docs, want $nDocs")
    else groups.find(g => g.map(rep.get).distinct.size != 1)
      .map(g => s"planted group ${g.mkString(",")} split over ${g.map(rep.get).distinct}")
      .orElse {
        val n = rep.values.toSet.size.toLong
        if (n == wantClusters) None else Some(s"$n clusters, want $wantClusters")
      }
  }

  // ----------------------------------------------------------------- stream

  /** (session start in epoch micros, user, events, value sum) */
  type Session = (Long, Long, Long, Double)

  def sessions(got: Seq[Session], want: Seq[Session]): Option[String] =
    sameBag("sessions", got, want)

  // ----------------------------------------------------------------- shared

  /** Multiset equality with a short description of the first difference. */
  def sameBag[A](what: String, got: Seq[A], want: Seq[A]): Option[String] = {
    def count(xs: Seq[A]) = xs.groupBy(identity).view.mapValues(_.size).toMap
    val (g, w) = (count(got), count(want))
    if (g == w) None
    else {
      val extra = g.collectFirst { case (k, n) if w.getOrElse(k, 0) < n => k }
      val missing = w.collectFirst { case (k, n) if g.getOrElse(k, 0) < n => k }
      Some(s"$what: ${got.size} rows, want ${want.size}" +
        extra.map(e => s"; unexpected $e").getOrElse("") +
        missing.map(m => s"; missing $m").getOrElse(""))
    }
  }
}
