package graftbench

import scala.collection.mutable.ArrayBuffer

import org.scalatest.funsuite.AnyFunSuite

class MixSpec extends AnyFunSuite {

  /** A part that records the operation indices it is asked for and the
    * operations its layers see. */
  final class Part(name: String, override val cycle: Int) extends Workload {
    val asked = ArrayBuffer.empty[Int]
    var seen: Seq[(Int, String)] = Nil
    def setup(): Unit = ()
    def op(i: Int): Op = { asked += i; Op(s"$name$i", () => 0L, () => None) }
    override def finish(): Option[String] = if (name == "b") Some("b is wrong") else None
    override def layers(v: TraceView): Map[String, Double] = {
      seen = v.ops.map(o => (o.index, o.kind))
      Map(s"$name.ops" -> v.ops.size.toDouble)
    }
  }

  private def rec(i: Int, kind: String) = OpRec(i, kind, 0.0, 1.0, 0L, ok = true, 0L)

  test("measured operations reach each part, cycle by cycle, under the part's own indices") {
    val a = new Part("a", 2)
    val b = new Part("b", 1)
    val mix = new Mix(Seq(a, b), warmupCycles = 0)
    assert(mix.cycle == 3)
    assert((0 until 6).map(mix.op(_).kind) == Seq("a0", "a1", "b0", "a2", "a3", "b1"))
  }

  test("warm-up operations -1, -2, ... reach each part as -1, -2, ... in order") {
    val a = new Part("a", 2)
    val b = new Part("b", 1)
    val mix = new Mix(Seq(a, b), warmupCycles = 2)
    assert(mix.warmupOps == 6)
    (1 to mix.warmupOps).foreach(j => mix.op(-j))
    assert(a.asked == Seq(-1, -2, -3, -4))
    assert(b.asked == Seq(-1, -2))
  }

  test("each part's layers see only its own operations, re-indexed") {
    val a = new Part("a", 2)
    val b = new Part("b", 1)
    val mix = new Mix(Seq(a, b), warmupCycles = 0)
    val ops = Seq(3 -> "a2", 4 -> "a3", 5 -> "b1", 6 -> "a4").map { case (i, k) => rec(i, k) }
    val m = mix.layers(TraceView(ops, Nil, Nil))
    assert(m == Map("a.ops" -> 3.0, "b.ops" -> 1.0))
    assert(a.seen == Seq(2 -> "a2", 3 -> "a3", 4 -> "a4"))
    assert(b.seen == Seq(1 -> "b1"))
  }

  test("a part's failed final check fails the mix") {
    val mix = new Mix(Seq(new Part("a", 1), new Part("b", 1)), warmupCycles = 0)
    assert(mix.finish() == Some("b is wrong"))
  }
}
