package graft.core

import graft.SparkFunSuite
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.columnar.InMemoryRelation
import org.apache.spark.sql.execution.datasources.LogicalRelation
import org.apache.spark.sql.functions.col

class ReconcilePipelineSpec extends SparkFunSuite {

  // src = sf0.001, tgt = same dir → everything must match and be consistent.
  test("identical source and target: all matched, all consistent, empty inconsistent report") {
    val p = new ReconcilePipeline(spark, sf001, sf001,
      Seq("region" -> Nil, "nation" -> Nil, "lineitem" -> Seq("l_returnflag")))
    assert(p.report.filter(col("status") =!= "matched").count() == 0)
    val integ = p.integrity()
    assert(integ.count() > 0)
    assert(integ.filter(!col("consistent")).count() == 0)
  }

  test("writeReports produces the three CSV reports") {
    val out = java.nio.file.Files.createTempDirectory("pipeline").toString
    val p = new ReconcilePipeline(spark, sf001, sf001, Seq("region" -> Nil))
    p.writeReports(out)
    for (r <- Seq("MatchedData", "TableMismatchedData", "TableDataNotConsistent")) {
      val files = new java.io.File(s"$out/$r").listFiles()
      assert(files != null && files.exists(_.getName.endsWith(".csv")), s"missing $r")
    }
    val matched = spark.read.option("header", "true").csv(s"$out/MatchedData")
    assert(matched.count() == 1)
  }

  test("sampled integrity variant works (UC#2 faithful form)") {
    val p = new ReconcilePipeline(spark, sf001, sf001, Seq("customer" -> Nil), sampleSize = 5)
    val integ = p.integrity(sampled = true)
    assert(integ.filter(!col("consistent")).count() == 0)
  }

  test("a NULL partition value reconciles and digests as one matched, consistent partition") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("nullpart").toString
    Seq((1L, "x"), (2L, "x"), (3L, null), (4L, null)).toDF("k", "p")
      .write.partitionBy("p").parquet(s"$dir/t.parquet")
    val p = new ReconcilePipeline(spark, dir, dir, Seq("t" -> Seq("p")))
    assert(p.report.select("partition", "status").as[(String, String)].collect().toSet
      == Set(("p=x", "matched"), ("p", "matched")))
    for (sampled <- Seq(false, true)) {
      val integ = p.integrity(sampled)
        .select("partition", "src_cnt", "tgt_cnt", "consistent")
        .as[(String, Long, Long, Boolean)].collect().toSet
      assert(integ == Set(("p=x", 2L, 2L, true), ("p", 2L, 2L, true)), s"sampled=$sampled")
    }
    val out = java.nio.file.Files.createTempDirectory("nullpart_out").toString
    p.writeReports(out)
    assert(spark.read.option("header", "true").csv(s"$out/TableDataNotConsistent").count() == 0)
  }

  test("integrity reads only the cached records: no table scan of its own") {
    val p = new ReconcilePipeline(spark, sf001, sf001,
      Seq("region" -> Nil, "lineitem" -> Seq("l_returnflag")))
    p.report.count()
    val plan: LogicalPlan = p.integrity().queryExecution.optimizedPlan
    // InMemoryRelation is a leaf: a parquet relation under the cache
    // never shows up here, one the integrity plan scans itself does
    assert(plan.collect { case r: LogicalRelation => r }.isEmpty, plan.treeString)
    assert(plan.collect { case m: InMemoryRelation => m }.nonEmpty, plan.treeString)
  }
}
