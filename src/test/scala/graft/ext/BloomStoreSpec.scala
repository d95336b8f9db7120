package graft.ext

import org.apache.spark.sql.functions._

import graft.SparkFunSuite

/** The Bloom-pre-screened store path must be row-identical to the plain
  * shuffle anti-join — including planted duplicates and the false
  * positives the filter inevitably produces — and must actually
  * pre-screen (clear the bulk of a mostly-novel batch without join
  * work).
  */
class BloomStoreSpec extends SparkFunSuite {

  test("bloom store path equals the plain anti-join, dups and novelties alike") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("bloom_store").toString
    // store: 2000 accepted texts; batch: 500 new + 100 exact replays
    val accepted = (0 until 2000).map(i => (i.toLong, s"accepted text $i"))
    val batch = ((10000 until 10500).map(i => (i.toLong, s"novel text $i")) ++
      (0 until 100).map(i => (20000L + i, s"accepted text ${i * 7 % 2000}")))
    val acceptedDf = accepted.toDF("doc_id", "text")
    val batchDf = batch.toDF("doc_id", "text")
    Dedup.writeFingerprintStore(acceptedDf, "text", s"$root/store")

    val plain = Dedup.dedupAgainstStore(spark, batchDf, "text", s"$root/store")
      .select("doc_id").as[Long].collect().toSet
    val bloomed = Dedup.dedupAgainstStoreBloom(spark, batchDf, "text", s"$root/store")
      .select("doc_id").as[Long].collect().toSet
    assert(bloomed == plain)
    // every replay dropped, every novelty kept
    assert(plain.size == 500)
    assert(plain.forall(id => id >= 10000L && id < 10500L))
  }

  test("the pre-screen clears the bulk of a novel batch (fpp bound)") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("bloom_fpp").toString
    val accepted = (0 until 5000).map(i => (i.toLong, s"stored $i"))
    val novel = (0 until 5000).map(i => (50000L + i, s"fresh $i"))
    Dedup.writeFingerprintStore(accepted.toDF("doc_id", "text"), "text", s"$root/store")
    val store = spark.read.parquet(s"$root/store")
    val bloom = store.select(xxhash64(col("fp")).as("h"))
      .stat.bloomFilter("h", 5000L, 0.01)
    val hits = novel.toDF("doc_id", "text")
      .withColumn("fp", md5(col("text")))
      .filter(graft.functions.GraftFunctions.bloomContainsLong(
        xxhash64(col("fp")), bloom))
      .count()
    // all 5000 rows are novel: every hit is a false positive; at target
    // fpp 1% over 5000 probes, 150 would be 3x the expectation — a
    // mis-built or mis-probed filter (wrong hash, wrong encoding) fails
    // as ~100% hits, far beyond this bound
    assert(hits <= 150, s"false-positive rate out of bounds: $hits / 5000")
    // and the filter is not degenerate-empty: every stored key must hit
    val storedHits = accepted.toDF("doc_id", "text")
      .withColumn("fp", md5(col("text")))
      .filter(graft.functions.GraftFunctions.bloomContainsLong(
        xxhash64(col("fp")), bloom))
      .count()
    assert(storedHits == 5000L, s"no false negatives allowed: $storedHits")
  }
}
