package graftbench

import org.scalatest.funsuite.AnyFunSuite

import Checks._

/** Every checker accepts the right answer and rejects a planted wrong one. */
class ChecksSpec extends AnyFunSuite {

  private val truth = Gen.warehouseTruth(Gen.warehousePlan(3))

  private def reportsFor(t: ReconcileTruth) = Reports(
    t.report.filter(_.status == Matched).map(r => (r.table, r.partition, r.src.get)),
    t.report.filter(_.status != Matched).map(r => (r.table, r.partition, r.src, r.tgt, r.status)),
    t.inconsistent.map(r => (r.table, r.partition, r.src, r.tgt)))

  test("reconcile: the generator's truth covers every perturbation") {
    val statuses = truth.report.map(_.status)
    Seq(Matched, Mismatched, MissingInTarget, MissingInSource).foreach(s => assert(statuses.contains(s)))
    assert(truth.inconsistent.exists(r => r.src == r.tgt), "the mutated cell keeps counts equal")
  }

  test("reconcile: a wrong count, a lost row or a missed mutation is rejected") {
    val good = reportsFor(truth)
    assert(reconcile(good, truth).isEmpty)
    val m = good.matched
    assert(reconcile(good.copy(matched = m.updated(0, m(0).copy(_3 = m(0)._3 + 1))), truth).nonEmpty)
    assert(reconcile(good.copy(mismatched = good.mismatched.tail), truth).nonEmpty)
    assert(reconcile(good.copy(notConsistent =
      good.notConsistent.filterNot(r => r._3 == r._4)), truth).nonEmpty)
  }

  test("ingest: reads and the final table must equal the model") {
    val model = new Model
    (0L until 10).foreach(i => model.upsert(OrderRow(i + 1, i, i * 1.5, Gen.OrderStatus((i % 3).toInt))))
    assert(model.deleteRange(3, 5) == 2 && model.update(6, 100.0))
    val want = model.pruned("F", 1, 10)
    assert(sameAgg("pruned", want, want).isEmpty)
    assert(sameAgg("pruned", want.copy(n = want.n + 1), want).nonEmpty)
    assert(sameAgg("pruned", want.copy(price = want.price + 0.5), want).nonEmpty)
    assert(ingestGroups(model.byStatus, model.byStatus).isEmpty)
    assert(ingestGroups(model.byStatus - "F", model.byStatus).nonEmpty)
    val rows = model.all.toSeq
    assert(ingestTable(rows, model).isEmpty)
    assert(ingestTable(rows.tail, model).nonEmpty)
    assert(ingestTable(rows :+ rows.head, model).nonEmpty)
    assert(ingestTable(rows.updated(0, rows.head.copy(price = -1)), model).nonEmpty)
  }

  test("dedup: a split planted group or a wrong cluster count is rejected") {
    val groups = Seq(Seq(0L, 5L, 6L))
    val good = Seq(0L -> 0L, 1L -> 1L, 5L -> 0L, 6L -> 0L)
    assert(dedup(good, 4, groups, 2).isEmpty)
    assert(dedup(good.updated(3, 6L -> 6L), 4, groups, 2).nonEmpty)
    assert(dedup(good, 4, groups, 3).nonEmpty)
    assert(dedup(good.init, 4, groups, 2).nonEmpty)
  }

  test("stream: a missing, extra or changed session is rejected") {
    val want: Seq[Session] = Seq((1L, 1L, 2L, 1.5), (5L, 2L, 1L, 0.5))
    assert(sessions(want.reverse, want).isEmpty)
    assert(sessions(want.tail, want).nonEmpty)
    assert(sessions(want :+ want.head, want).nonEmpty)
    assert(sessions(want.updated(1, (5L, 2L, 1L, 1.0)), want).nonEmpty)
  }
}
