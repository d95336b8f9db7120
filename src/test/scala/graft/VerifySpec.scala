package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

import graft.certs.Cert

/** The failure manifest is the guard against a fixture drift silently
  * shrinking the correctness report (round 8 lost 11 entries as absent
  * result dirs): a broken query must show up BY NAME in
  * `_failures.json`, while green queries still dump.
  */
class VerifySpec extends SparkFunSuite {

  test("a broken query lands in _failures.json; green queries still dump") {
    val out = Files.createTempDirectory("graft_verify_spec").toString
    val certs = Seq(
      Cert("ok_range", "SELECT 1 AS n")((s, _) => s.range(3).toDF("n")),
      Cert("boom", "SELECT 1 AS n")((_, _) => throw new RuntimeException("deliberate boom")))
    val failures = Verify.run(spark, sf001, out, certs)
    assert(failures.keySet == Set("boom"))
    assert(failures("boom").contains("deliberate boom"))
    val manifest = Files.readString(Paths.get(s"$out/_failures.json"))
    assert(manifest.contains("\"boom\"") && manifest.contains("deliberate boom"))
    assert(new java.io.File(s"$out/ok_range").exists,
      "the green query's parquet dump must still be written")
    assert(Files.readString(Paths.get(s"$out/oracle_sql.json")).contains("ok_range"))
  }

  test("an all-green run writes an empty manifest, not no manifest") {
    val out = Files.createTempDirectory("graft_verify_spec_green").toString
    val failures = Verify.run(spark, sf001, out,
      Seq(Cert("ok_range", "SELECT 1 AS n")((s, _) => s.range(2).toDF("n"))))
    assert(failures.isEmpty)
    assert(Files.readString(Paths.get(s"$out/_failures.json")).trim == "{}")
  }

  /** A tiny bounded stream: one memory-sink StreamingQuery run to
    * completion, its answer returned as a batch DataFrame.
    */
  private def runsAStream(s: SparkSession, name: String) = {
    import s.implicits._
    implicit val sqlCtx = s.sqlContext
    val src = MemoryStream[Long]
    src.addData(1L, 2L, 3L)
    val q = src.toDF().writeStream.format("memory").queryName(name)
      .outputMode("append").start()
    try q.processAllAvailable() finally q.stop()
    s.table(name)
  }

  test("a batch-declared cert that starts a StreamingQuery lands in _failures.json") {
    val out = Files.createTempDirectory("graft_verify_spec_tier_b").toString
    val failures = Verify.run(spark, sf001, out, Seq(
      Cert("sneaky_stream", "SELECT 1 AS value")((s, _) => runsAStream(s, "verify_tier_b")),
      Cert("honest_stream", "SELECT 1 AS value", stream = true)(
        (s, _) => runsAStream(s, "verify_tier_b2"))))
    assert(failures.keySet == Set("sneaky_stream"))
    assert(failures("sneaky_stream").contains("declared batch"))
    val manifest = Files.readString(Paths.get(s"$out/_failures.json"))
    assert(manifest.contains("\"sneaky_stream\"") && !manifest.contains("honest_stream"))
  }

  test("a stream-declared cert that starts no StreamingQuery lands in _failures.json") {
    val out = Files.createTempDirectory("graft_verify_spec_tier_s").toString
    val failures = Verify.run(spark, sf001, out, Seq(
      Cert("lazy_stream", "SELECT 1 AS n", stream = true)((s, _) => s.range(2).toDF("n"))))
    assert(failures.keySet == Set("lazy_stream"))
    assert(failures("lazy_stream").contains("declared stream"))
    val manifest = Files.readString(Paths.get(s"$out/_failures.json"))
    assert(manifest.contains("\"lazy_stream\"") && manifest.contains("declared stream"))
  }
}
