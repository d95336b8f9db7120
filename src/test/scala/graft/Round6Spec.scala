package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.plans.AsOfJoinNative
import graft.ext.{Dedup, Funnel, FuzzyJoin, SparseSim, TextStats}

/** Invariants for the round-6 library additions: the incremental
  * fingerprint-store dedup, repetition/scrub text signals, and cohort
  * retention. (The driver queries built on these are oracle-checked
  * end-to-end; these tests pin the semantics on hand-computable toys.)
  */
class Round6Spec extends SparkFunSuite {
  import spark.implicits._

  test("fingerprint store roundtrip: survivors are exactly the unseen texts") {
    val corpus = Seq((1L, "alpha beta"), (2L, "gamma delta"), (3L, "epsilon"))
      .toDF("doc_id", "text")
    val batch = Seq(
      (10L, "alpha beta"),   // dup of corpus doc 1 → dropped
      (11L, "zeta eta"),     // new → survives
      (12L, "gamma delta"),  // dup of corpus doc 2 → dropped
      (13L, "theta")         // new → survives
    ).toDF("doc_id", "text")
    val store = Files.createTempDirectory("graft_fp_store").toString + "/fp"
    Dedup.writeFingerprintStore(corpus, "text", store)
    val survivors = Dedup.dedupAgainstStore(spark, batch, "text", store)
    assert(survivors.select("doc_id").as[Long].collect().sorted.toSeq == Seq(11L, 13L))
    // survivors keep the batch schema (the fingerprint column is internal)
    assert(survivors.columns.toSeq == batch.columns.toSeq)
  }

  test("fingerprint store: batch duplicates of EACH OTHER both survive (store-only dedup)") {
    val corpus = Seq((1L, "x")).toDF("doc_id", "text")
    val batch = Seq((10L, "same new"), (11L, "same new")).toDF("doc_id", "text")
    val store = Files.createTempDirectory("graft_fp_store").toString + "/fp"
    Dedup.writeFingerprintStore(corpus, "text", store)
    // anti-join semantics: in-batch dedup is a separate (exact) stage
    assert(Dedup.dedupAgainstStore(spark, batch, "text", store).count() == 2)
  }

  test("ngramRepetition counts total and repeated trigrams") {
    val (tot, rep) = TextStats.ngramRepetition(col("text"), 3)
    val got = Seq(
      (1L, "a b a b a b a b"),   // 6 trigrams: "a b a" ×3, "b a b" ×3 → 4 repeated
      (2L, "one two three four"), // 2 distinct trigrams → 0 repeated
      (3L, "just two"),           // <3 tokens → one whole-sequence shingle
      (4L, "")                    // empty → one empty shingle
    ).toDF("doc_id", "text")
      .select(col("doc_id"), tot.as("t"), rep.as("r"))
      .collect().map(x => x.getLong(0) -> ((x.getLong(1), x.getLong(2)))).toMap
    assert(got(1L) == ((6L, 4L)))
    assert(got(2L) == ((2L, 0L)))
    assert(got(3L) == ((1L, 0L)))
    assert(got(4L) == ((1L, 0L)))
  }

  test("scrub removes matches and counts them") {
    val (scrubbed, hits) = TextStats.scrub(col("text"), "\\bthe\\b")
    val r = Seq((1L, "the cat and the theme of the day"))
      .toDF("doc_id", "text")
      .select(scrubbed.as("s"), hits.as("n")).head()
    // word-boundary: "theme" untouched, the three bare "the" removed
    assert(r.getString(0) == " cat and  theme of  day")
    assert(r.getInt(1) == 3)
  }

  test("earliestFollowing: inclusive forward as-of per key") {
    val left = Seq((1L, 10L, 100L), (2L, 10L, 250L), (3L, 20L, 50L), (4L, 30L, 10L))
      .toDF("lid", "k", "t")
      .select(col("lid"), col("k"), col("t").cast("timestamp").as("t"))
    val right = Seq((10L, 100L, "at100"), (10L, 200L, "at200"), (20L, 40L, "at40"))
      .toDF("rk", "rt", "v")
      .select(col("rk"), col("rt").cast("timestamp").as("rt"), col("v"))
    val got = AsOfJoinNative.join(left, right, "k", "rk", "t", "rt", Seq("v"), forward = true)
      .select("lid", "v").collect().map(r => r.getLong(0) -> Option(r.getString(1))).toMap
    assert(got == Map(
      1L -> Some("at100"), // equal timestamps match (inclusive >=)
      2L -> None,          // nothing at or after t=250
      3L -> None,          // right row at 40 is BEFORE 50 → no forward match
      4L -> None))         // key 30 has no right rows
  }

  test("sparse cosine: integer witnesses match hand computation, df cut drops hot tokens") {
    // doc 1: a a b  → tf {a:2, b:1},  |v|² = 5
    // doc 2: a b b  → tf {a:1, b:2},  |v|² = 5
    // doc 3: c      → no shared tokens with 1/2
    // cos(1,2) = (2·1 + 1·2) / 5 = 0.8
    val docs = Seq((1L, "a a b"), (2L, "a b b"), (3L, "c")).toDF("doc_id", "text")
    val at08 = SparseSim.cosinePairs(docs, "doc_id", "text", 0.8, maxDf = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    assert(at08.toSeq == Seq((1L, 2L, 4L, 5L, 5L)))
    // threshold just above the true cosine excludes the pair
    assert(SparseSim.cosinePairs(docs, "doc_id", "text", 0.81, maxDf = 10).count() == 0)
    // df cut at 1: tokens a and b (df=2) are dropped → no pairs at all
    assert(SparseSim.cosinePairs(docs, "doc_id", "text", 0.1, maxDf = 1).count() == 0)
  }

  test("fuzzy join finds every edit type within distance 1, nothing else") {
    val keys = Seq(
      (1L, "spark"),  // base
      (2L, "spork"),  // substitution vs 1
      (3L, "spak"),   // deletion vs 1
      (4L, "sparks"), // insertion vs 1
      (5L, "spark"),  // exact duplicate of 1 (distance 0)
      (6L, "flink")   // unrelated
    ).toDF("id", "name")
    val got = FuzzyJoin.editDistance1Pairs(keys, "id", "name")
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(got == Map(
      (1L, 2L) -> 1L, (1L, 3L) -> 1L, (1L, 4L) -> 1L, (1L, 5L) -> 0L,
      (2L, 5L) -> 1L, (3L, 5L) -> 1L, (4L, 5L) -> 1L))
  }

  test("fuzzy join handles empty strings (deletion variants of '' are ['']") {
    val keys = Seq((1L, ""), (2L, "a"), (3L, "")).toDF("id", "name")
    val got = FuzzyJoin.editDistance1Pairs(keys, "id", "name")
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(got == Map((1L, 2L) -> 1L, (1L, 3L) -> 0L, (2L, 3L) -> 1L))
  }

  test("fuzzy join skew guard drops degenerate variant blocks") {
    val keys = Seq((1L, "aa"), (2L, "ab"), (3L, "ac")).toDF("id", "name")
    // every pair shares the deletion variant "a"; block size 3 > cap 2
    // → the hot block is dropped and (with it) all pairs
    assert(FuzzyJoin.editDistance1Pairs(keys, "id", "name", maxBlock = 2).count() == 0)
    assert(FuzzyJoin.editDistance1Pairs(keys, "id", "name").count() == 3)
  }

  test("rollingActives counts trailing-window distinct users per report day") {
    val ev = Seq(
      (1L, "2024-01-01 10:00:00"), (1L, "2024-01-01 11:00:00"), // user 1 day 1 (dup)
      (2L, "2024-01-02 09:00:00"),                              // user 2 day 2
      (1L, "2024-01-04 09:00:00")                               // user 1 again day 4
    ).toDF("user_id", "ts_s").select(col("user_id"), col("ts_s").cast("timestamp").as("ts"))
    val got = Funnel.rollingActives(ev, "user_id", "ts", windowDays = 3)
      .collect().map(r => r.getTimestamp(0).toString.take(10) -> r.getLong(1)).toMap
    assert(got == Map(
      "2024-01-01" -> 1L, // {1}
      "2024-01-02" -> 2L, // {1, 2}
      "2024-01-03" -> 2L, // {1, 2}
      "2024-01-04" -> 2L, // {2 (from day 2), 1 (day 4)}
      "2024-01-05" -> 1L, // {1}
      "2024-01-06" -> 1L  // {1}
    ))
  }

  test("tokenDiversity: exact integer Simpson components") {
    // group g: tokens a a a b  → total 4, counts {a:3, b:1} → sum_sq 10, distinct 2
    val docs = Seq(("g", "a a a"), ("g", "b"), ("h", "x y")).toDF("lang", "text")
    val got = TextStats.tokenDiversity(docs, "lang", "text")
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(got("g") == ((4L, 10L, 2L)))
    assert(got("h") == ((2L, 2L, 2L)))
  }

  test("retention: cohorts by first day, actives per offset day") {
    val ev = Seq(
      // user 1: first seen day 1, active days 1 and 3
      (1L, "2024-01-01 10:00:00"), (1L, "2024-01-01 12:00:00"), (1L, "2024-01-03 09:00:00"),
      // user 2: first seen day 1, active day 1 only
      (2L, "2024-01-01 23:59:59"),
      // user 3: first seen day 2, active days 2 and 3
      (3L, "2024-01-02 05:00:00"), (3L, "2024-01-03 05:00:00")
    ).toDF("user_id", "ts_s").select(col("user_id"), col("ts_s").cast("timestamp").as("ts"))
    val got = Funnel.retention(ev, "user_id", "ts")
      .collect()
      .map(r => (r.getTimestamp(0).toString.take(10), r.getLong(1)) -> r.getLong(2))
      .toMap
    assert(got == Map(
      ("2024-01-01", 0L) -> 2L, // users 1,2 on their cohort day
      ("2024-01-01", 2L) -> 1L, // user 1 back on day 3
      ("2024-01-02", 0L) -> 1L, // user 3 cohort day
      ("2024-01-02", 1L) -> 1L  // user 3 back on day 3
    ))
  }
}
