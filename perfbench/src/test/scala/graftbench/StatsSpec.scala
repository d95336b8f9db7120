package graftbench

import org.scalatest.funsuite.AnyFunSuite

class StatsSpec extends AnyFunSuite {

  test("median averages the two middle samples of an even count") {
    assert(Stats.median(Seq(3.0, 1.0, 2.0)) == 2.0)
    assert(Stats.median(Seq(4.0, 1.0, 3.0, 2.0)) == 2.5)
  }

  test("percentile is the nearest rank") {
    val xs = (1 to 10).map(_.toDouble)
    assert(Stats.percentile(xs, 50) == 5.0)
    assert(Stats.percentile(xs, 90) == 9.0)
    assert(Stats.percentile(xs, 100) == 10.0)
    assert(Stats.rank(90, 100) == 90)
    assert(Stats.rank(99, 1000) == 990)
  }

  test("the tail is the highest percentile with ten samples beyond it") {
    def tailP(n: Int) = Stats.tail((1 to n).map(_.toDouble)).map(_._1)
    assert(tailP(19).isEmpty, "19 samples leave 9 beyond the median")
    assert(tailP(20).contains(50.0))
    assert(tailP(99).contains(50.0), "p90 of 99 has 9 beyond it")
    assert(tailP(100).contains(90.0))
    assert(tailP(999).contains(90.0))
    assert(tailP(1000).contains(99.0))
    assert(tailP(10000).contains(99.9))
  }

  test("a timing states its sample count and shows only a real tail") {
    val t = Stats.timing((1 to 100).map(_.toDouble))
    assert(t.n == 100 && t.p50 == 50.5 && t.tail.contains(90.0 -> 90.0))
    assert(t.describe("s").contains("p90=90.0000 s") && t.describe("s").endsWith("(n=100)"))
    val small = Stats.timing(Seq(2.0, 1.0, 3.0))
    assert(small.tail.isEmpty && small.describe("s") == "p50=2.0000 s (n=3)")
  }
}
