package graftbench

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

class GenSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark = SparkSession.builder().master("local[2]")
    .config("spark.ui.enabled", "false").config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.shuffle.partitions", "2").getOrCreate()

  override def afterAll(): Unit = spark.stop()

  test("the corpus and the perturbation plan repeat for a seed and vary across seeds") {
    assert(Gen.corpus(5) == Gen.corpus(5))
    assert(Gen.corpus(5)._1 != Gen.corpus(6)._1)
    assert(Gen.corpus(6)._1.size == Gen.BackgroundDocs + Gen.PlantedGroups * Gen.VariantsPerGroup)
    assert(Gen.warehousePlan(5) == Gen.warehousePlan(5))
    assert((1 to 20).map(s => Gen.warehousePlan(s.toLong)).distinct.size > 1)
    assert(Gen.ingestBaseRow(41, 5) == Gen.ingestBaseRow(41, 5))
  }

  test("generated tables repeat for a seed and keep their size across seeds") {
    def fingerprint(seed: Long) = Gen.warehouse(spark, seed).toSeq.sortBy(_._1).map {
      case (name, df) => name -> df.agg(count(lit(1)), bit_xor(xxhash64(df.columns.map(col): _*)))
        .head().toSeq
    }
    assert(fingerprint(11) == fingerprint(11))
    val other = fingerprint(12)
    assert(other != fingerprint(11))
    assert(other.map(_._2.head) == fingerprint(11).map(_._2.head))
    def events(seed: Long) = Gen.streamEvents(spark, seed)
      .agg(count(lit(1)), bit_xor(xxhash64(col("ts"), col("user_id"), col("value")))).head()
    assert(events(3) == events(3) && events(3) != events(4))
  }

  test("the perturbed target agrees with the generator's ground truth") {
    val plan = Gen.warehousePlan(21)
    val src = Gen.warehouse(spark, plan.seed)
    val tgt = Gen.perturb(spark, src, plan)
    def counts(t: Map[String, org.apache.spark.sql.DataFrame]) =
      Gen.WarehouseTables.flatMap { case (name, parts, _) =>
        if (parts.isEmpty) Seq((name, None: Option[String]) -> t(name).count())
        else t(name).groupBy(parts.map(col): _*).count().collect().toSeq
          .map(r => (name, Some(s"${parts.head}=${r.getString(0)}")) -> r.getLong(1))
      }.toMap
    val (s, t) = (counts(src), counts(tgt))
    val truth = Gen.warehouseTruth(plan)
    truth.report.foreach { r =>
      assert(s.get((r.table, r.partition)) == r.src, s"source $r")
      assert(t.get((r.table, r.partition)) == r.tgt, s"target $r")
    }
    assert((s.keySet ++ t.keySet) == truth.report.map(r => (r.table, r.partition)).toSet)
  }
}
