package graft.core

import graft.SparkFunSuite
import graft.ext.{Dedup, Multimodal, SimSearch}
import graft.plans.AsOfJoinNative
import org.apache.spark.sql.functions._
import java.sql.Timestamp

/** Edge cases surfaced while probing during round 1 — each of these is a
  * behavior a 100 TB run WILL hit somewhere in the data.
  */
class EdgeCasesSpec extends SparkFunSuite {
  import spark.implicits._

  private def ts(s: String) = Timestamp.valueOf(s)

  test("as-of join: tied right rows at the same (key, time) yield a deterministic time payload") {
    val quotes = Seq(
      (1L, ts("2024-01-01 10:00:00"), "q1"),
      (1L, ts("2024-01-01 10:00:00"), "q2") // tie: same key, same time
    ).toDF("k", "qts", "qid")
      .withColumn("matched_time", col("qts"))
    val trades = Seq((1L, ts("2024-01-01 10:30:00"), "t")).toDF("k2", "tts", "tid")
    val got = AsOfJoinNative.join(trades, quotes, "k2", "k", "tts", "qts", Seq("matched_time"))
      .head
    // the payload that is a function of (key, time) is stable under ties
    assert(got.getTimestamp(3) == ts("2024-01-01 10:00:00"))
  }

  test("dedup operators tolerate empty relations") {
    val empty = Seq.empty[(Long, String)].toDF("doc_id", "text")
    assert(Dedup.exactByKey(empty, "doc_id", "text").count() == 0)
    assert(Dedup.jaccardPairsExact(empty, "doc_id", "text", 0.9).count() == 0)
    assert(Dedup.minhashNearDupPairs(empty, "doc_id", "text", 0.9).count() == 0)
    assert(Dedup.simhashNearDupPairs(empty, "doc_id", "text").count() == 0)
  }

  test("similarity operators tolerate empty and zero-norm inputs") {
    val empty = Seq.empty[(Long, Seq[Float])].toDF("vec_id", "embedding")
    assert(SimSearch.cosinePairs(empty, "vec_id", "embedding", 0.5).count() == 0)
    val zeros = Seq((1L, Seq(0.0f, 0.0f)), (2L, Seq(0.0f, 0.0f))).toDF("vec_id", "embedding")
    // zero-norm vectors are filtered, never divided by
    assert(SimSearch.cosinePairs(zeros, "vec_id", "embedding", 0.0).count() == 0)
  }

  test("multimodal decode handles null and garbage media bytes") {
    val df = Seq((1L, Option.empty[Array[Byte]]),
        (2L, Option(Array[Byte](1, 2, 3))))
      .toDF("doc_id", "media")
    val out = Multimodal.decodeWav(spark, df).collect().sortBy(_.doc_id)
    // both are structurally invalid WAVs: flagged, never thrown
    assert(out.length == 2 && out.forall(!_.valid))
    assert(out.forall(f => f.n_samples == 0L && f.sum_sample == 0L))
  }

  test("round-6 operators tolerate empty relations") {
    import graft.ext.{Funnel, FuzzyJoin, SparseSim, TextStats}
    val noEvents = Seq.empty[(Long, Timestamp)].toDF("user_id", "ts")
    assert(Funnel.retention(noEvents, "user_id", "ts").count() == 0)
    assert(Funnel.rollingActives(noEvents, "user_id", "ts", 7).count() == 0)
    val noDocs = Seq.empty[(Long, String)].toDF("doc_id", "text")
    assert(SparseSim.cosinePairs(noDocs, "doc_id", "text", 0.5, 100).count() == 0)
    assert(FuzzyJoin.editDistance1Pairs(noDocs, "doc_id", "text").count() == 0)
    assert(TextStats.tokenDiversity(noDocs, "doc_id", "text").count() == 0)
  }

  test("incremental dedup against an empty store keeps the whole batch") {
    import graft.ext.Dedup
    val store = java.nio.file.Files.createTempDirectory("fp_empty").toString + "/fp"
    Dedup.writeFingerprintStore(Seq.empty[(Long, String)].toDF("doc_id", "text"), "text", store)
    val batch = Seq((1L, "a"), (2L, "b")).toDF("doc_id", "text")
    assert(Dedup.dedupAgainstStore(spark, batch, "text", store).count() == 2)
  }

  test("reconcile handles a table empty on one side") {
    val src = Seq(("t", "k=a", 5L)).toDF("table", "partition", "cnt")
    val tgt = Seq.empty[(String, String, Long)].toDF("table", "partition", "cnt")
    val got = Reconcile.counts(src, tgt).collect()
    assert(got.length == 1 && got(0).getString(4) == "missing_in_target")
  }

  test("fingerprint of an empty relation is well-defined and distinct from non-empty") {
    val empty = Seq.empty[(Int, String)].toDF("id", "s")
    val one = Seq((1, "x")).toDF("id", "s")
    val de = Fingerprint.table(empty, "t").select("digest").head.getString(0)
    val d1 = Fingerprint.table(one, "t").select("digest").head.getString(0)
    assert(de != null && de != d1)
  }
}
