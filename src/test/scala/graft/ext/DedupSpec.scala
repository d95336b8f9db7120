package graft.ext

import graft.SparkFunSuite
import graft.core.Tables
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.functions._

class DedupSpec extends SparkFunSuite {
  import spark.implicits._

  private val docs = Seq(
    (1L, "the quick brown fox jumps over the lazy dog"),
    (2L, "the quick brown fox jumps over the lazy dog"), // exact dup of 1
    (3L, "the quick brown fox jumps over the lazy cat"), // near dup of 1
    (4L, "completely different content about spark engines"),
    (5L, "")).toDF("doc_id", "text")

  test("exact dedup drops duplicate rows") {
    assert(Dedup.exact(docs).count() == 5) // ids differ → all distinct
    assert(Dedup.exact(docs, Seq("text")).count() == 4)
  }

  test("exactByKey keeps min id and counts copies") {
    val got = Dedup.exactByKey(docs, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(got(1L) == 2L) // doc 1 kept, 2 copies
    assert(got(3L) == 1L)
  }

  test("jaccardPairsExact finds exact and near duplicates with correct jaccard") {
    val got = Dedup.jaccardPairsExact(docs, "doc_id", "text", 0.5)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    assert(got.contains((1L, 2L)) && got((1L, 2L)) == 1.0)
    assert(got.contains((1L, 3L)) && got((1L, 3L)) > 0.7 && got((1L, 3L)) < 1.0)
    assert(got.contains((2L, 3L)))
    assert(!got.keys.exists { case (a, b) => a == 4L || b == 4L })
  }

  test("minhash near-dup finds the same clusters as exact jaccard at high threshold") {
    val exact = Dedup.jaccardPairsExact(docs, "doc_id", "text", 0.8)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = Dedup.minhashNearDupPairs(docs, "doc_id", "text", 0.8,
        Dedup.MinHashParams(numBands = 16, rowsPerBand = 2, bruteForceMaxDocs = 0))
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // LSH candidates are verified exactly → lsh ⊆ exact; with 16 bands at
    // j>=0.8 recall should be complete on this fixture.
    assert(lsh == exact)
    assert(lsh.contains((1L, 2L)))
  }

  test("minhash signature is deterministic and k-long") {
    val p = Dedup.MinHashParams(numBands = 4, rowsPerBand = 3)
    val sig = docs.filter($"doc_id" === 1L)
      .select(Dedup.minhashSignature(Text.tokenSet($"text"), p).as("s"))
      .head.getSeq[Long](0)
    assert(sig.length == p.k)
    val sig2 = docs.filter($"doc_id" === 2L)
      .select(Dedup.minhashSignature(Text.tokenSet($"text"), p).as("s"))
      .head.getSeq[Long](0)
    assert(sig == sig2) // identical text → identical signature
  }

  test("simhash: identical texts collide, near texts are close, different texts far") {
    val sh = Dedup.simhashes(docs, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(sh(1L) == sh(2L))
    def hamming(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    assert(hamming(sh(1L), sh(3L)) < hamming(sh(1L), sh(4L)))
  }

  test("simhashNearDupPairs finds the duplicate pair via block join") {
    val got = Dedup.simhashNearDupPairs(docs, "doc_id", "text", maxHamming = 3)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got.contains((1L, 2L)))
  }

  test("simhash block join: full-corpus recall vs exact, planted pairs in the id<100 prefix") {
    // the oracle query's recall gate is scoped to doc_id < 100, so this
    // spec keeps a FULL-corpus assertion: every block-join pair is a true
    // <=3-Hamming pair, and recall over the whole fixture stays above the
    // same 0.75 bound (the skew guard may drop degenerate hot blocks by
    // design; measured recall here is 1.0)
    val d = Tables.documents(spark, sf001)
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = pairs(Dedup.simhashPairsExact(d, "doc_id", "text", 3))
    val block = pairs(Dedup.simhashNearDupPairs(d, "doc_id", "text", 3))
    assert(block.subsetOf(exact))
    assert(exact.nonEmpty && block.size.toDouble / exact.size >= 0.75,
      s"full-corpus recall ${block.size}/${exact.size}")
    // fixture invariant the oracle's subset scope relies on: the
    // doc_id < 100 prefix contains at least one true near-dup pair
    assert(exact.exists { case (a, b) => a < 100 && b < 100 },
      "no planted near-dup pair inside the doc_id<100 prefix")
  }

  test("shingles produce n-grams and handle short docs") {
    val s = Seq("a b c d").toDF("t")
      .select(Text.shingles($"t", 3).as("s")).head.getSeq[String](0)
    assert(s == Seq("a b c", "b c d"))
    val short = Seq("a b").toDF("t")
      .select(Text.shingles($"t", 3).as("s")).head.getSeq[String](0)
    assert(short == Seq("a b"))
  }

  test("minhash scales structurally: fixture documents run end-to-end via LSH") {
    val d = Tables.documents(spark, sf001)
    val pairs = Dedup.minhashNearDupPairs(d, "doc_id", "text", 0.9,
      Dedup.MinHashParams(bruteForceMaxDocs = 0)) // force the LSH path
    assert(pairs.count() > 0) // fixture has token-set-identical docs
    // verified pairs must satisfy the threshold exactly
    assert(pairs.filter(col("jaccard") < 0.9).count() == 0)
  }

  test("adaptive strategy: brute-force and LSH paths produce identical pairs") {
    val d = Tables.documents(spark, sf001)
    val auto = Dedup.minhashNearDupPairs(d, "doc_id", "text", 0.9)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = Dedup.minhashNearDupPairs(d, "doc_id", "text", 0.9,
        Dedup.MinHashParams(bruteForceMaxDocs = 0))
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(auto == lsh)
  }

  test("connectedComponents: chain merges transitively, singleton maps to itself") {
    import spark.implicits._
    val nodes = (1L to 6L).toDF("id")
    // 1-2-3 chain (1~2, 2~3 but NOT 1~3) + 4-5 pair + 6 alone
    val pairs = Seq((2L, 1L), (2L, 3L), (4L, 5L)).toDF("id_a", "id_b")
    val expected = Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 4L, 5L -> 4L, 6L -> 6L)
    // driver union-find path (default) and forced distributed loop agree
    val uf = Dedup.connectedComponents(nodes, pairs)
      .as[(Long, Long)].collect().toMap
    val dist = Dedup.connectedComponents(nodes, pairs, maxDriverEdges = 0)
      .as[(Long, Long)].collect().toMap
    assert(uf == expected)
    assert(dist == expected)
  }

  test("connectedComponents: strategies agree on adversarial pseudo-random graphs") {
    import spark.implicits._
    // Deterministic LCG edges (no RNG seed drift across runs): a mix of
    // long chains (stress pointer jumping — diameter >> 2), dense blobs
    // (stress min-label fan-in), and isolated nodes (skip the loop).
    for ((nNodes, nEdges, salt) <- Seq((120, 40, 1L), (200, 300, 2L), (64, 700, 3L))) {
      var x = 42L + salt
      def nxt(): Long = { x = (x * 6364136223846793005L + 1442695040888963407L); math.abs(x) }
      val edges = (1 to nEdges).map { _ =>
        (nxt() % nNodes, nxt() % nNodes)
      }.filter { case (a, b) => a != b } ++
        // one long chain through half the id space
        (0L until (nNodes / 2 - 1).toLong).map(i => (i, i + 1))
      val nodes = (0L until nNodes.toLong).toDF("id")
      val pairs = edges.toDF("id_a", "id_b")
      val uf = Dedup.connectedComponents(nodes, pairs)
        .as[(Long, Long)].collect().toMap
      val dist = Dedup.connectedComponents(nodes, pairs, maxDriverEdges = 0)
        .as[(Long, Long)].collect().toMap
      assert(uf == dist, s"strategies diverged on graph ($nNodes, $nEdges, $salt)")
      // representative is always the component minimum: rep <= every member
      assert(uf.forall { case (id, rep) => rep <= id })
    }
  }

  test("connectedComponentsWithStats: a repeated distributed call compiles no new class") {
    val nodes = (0L until 200L).toDF("id")
    // a 150-edge chain: several rounds of the loop
    val pairs = (0L until 150L).map(i => (i + 1, i)).toDF("id_a", "id_b")
    def run() = {
      val (labels, stats) =
        Dedup.connectedComponentsWithStats(nodes, pairs, maxDriverEdges = 0)
      (labels.as[(Long, Long)].collect().toMap, stats)
    }
    val first = run()
    assert(first._2.iters > 1 && first._2.converged)
    val c0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    val (second, compiled) = compiledDuring(run())
    assert(CodegenMetrics.METRIC_COMPILATION_TIME.getCount - c0 == 0,
      s"classes compiled during the second call: ${compiled.mkString("; ")}")
    assert(second == first)
  }

  /** `body`'s result and one line per class Janino compiled while it ran,
    * anywhere in the JVM (the compile counter's scope): Spark's
    * `CodeGenerator` logs each compiled source at DEBUG, so its logger
    * is raised to DEBUG, detached from the console, for `body` only. */
  private def compiledDuring[A](body: => A): (A, Seq[String]) = {
    import org.apache.logging.log4j.{Level, LogManager}
    import org.apache.logging.log4j.core.{LogEvent, LoggerContext}
    import org.apache.logging.log4j.core.appender.AbstractAppender
    import org.apache.logging.log4j.core.config.{Configurator, Property}
    val name = "org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator"
    val ctx = LogManager.getContext(false).asInstanceOf[LoggerContext]
    val prevLevel = ctx.getConfiguration.getLoggerConfig(name).getLevel
    val sources = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val appender = new AbstractAppender(
        "compiled-classes", null, null, true, Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit =
        if (e.getLevel == Level.DEBUG) sources.add(e.getMessage.getFormattedMessage)
    }
    appender.start()
    Configurator.setLevel(name, Level.DEBUG)
    val lc = ctx.getConfiguration.getLoggerConfig(name)
    val prevAdditive = lc.isAdditive
    lc.setAdditive(false)
    lc.addAppender(appender, Level.DEBUG, null)
    ctx.updateLoggers()
    try {
      val r = body
      // each source compacted onto one line: its class names, then its
      // body with the line-number gutters and indentation squeezed out
      (r, sources.toArray(Array.empty[String]).toSeq.map { src =>
        val names = "class (\\w+)".r.findAllMatchIn(src).map(_.group(1))
          .toSeq.distinct.mkString("/")
        val code = src.replaceAll("/\\* \\d+ \\*/", " ").replaceAll("\\s+", " ").trim
        s"$names (${src.count(_ == '\n')} lines): ${code.take(1500)}"
      })
    } finally {
      lc.removeAppender(appender.getName)
      lc.setAdditive(prevAdditive)
      Configurator.setLevel(name, prevLevel)
      appender.stop()
    }
  }

  test("connectedComponentsWithStats: concurrent calls of different loop widths keep their own results") {
    // 250k disjoint pairs size the loop at 2 shuffle partitions, the
    // 40-edge chain at 1 (the session default here is 4)
    val bigNodes = spark.range(500000L).toDF("id")
    val bigPairs = spark.range(250000L)
      .select((col("id") * 2 + 1).as("id_a"), (col("id") * 2).as("id_b"))
    val smallNodes = (0L until 50L).toDF("id")
    val smallPairs = (0L until 40L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    def small() = {
      val (l, st) = Dedup.connectedComponentsWithStats(smallNodes, smallPairs, maxDriverEdges = 0)
      (l.as[(Long, Long)].collect().toMap, st)
    }
    def big() = {
      val (l, st) = Dedup.connectedComponentsWithStats(bigNodes, bigPairs, maxDriverEdges = 0)
      // every pair's representative is its even member
      (l.filter(col("cluster_rep") =!= col("id") - col("id") % 2).count(), st)
    }
    val smallAlone = small()
    assert(smallAlone._1 == (0L until 50L).map(i => i -> (if (i <= 40L) 0L else i)).toMap)
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    import scala.concurrent.duration._
    val fb = Future(big())
    val fs = Future((1 to 3).map(_ => small()))
    val (bigWrong, bigStats) = Await.result(fb, 5.minutes)
    assert(bigWrong == 0L)
    assert(bigStats == Dedup.CcStats(2, converged = true, 250000L, 500000L))
    Await.result(fs, 5.minutes).foreach(r => assert(r == smallAlone))
    // the loop session carries its own width; the caller's is untouched
    assert(Dedup.loopSession(spark, 2).conf.get("spark.sql.shuffle.partitions") == "2")
    assert(spark.conf.get("spark.sql.shuffle.partitions") == "4")
  }

  test("connectedComponents: both strategies agree on the fixture pair graph") {
    val d = Tables.documents(spark, sf001)
    val pairs = Dedup.minhashNearDupPairs(d, "doc_id", "text", 0.9)
      .select("id_a", "id_b").localCheckpoint(true)
    val nodes = d.select(col("doc_id").as("id"))
    val uf = Dedup.connectedComponents(nodes, pairs)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    val dist = Dedup.connectedComponents(nodes, pairs, maxDriverEdges = 0)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(uf == dist)
  }

  test("nearDupClusters: forced distributed loop matches the driver path end-to-end") {
    val d = Tables.documents(spark, sf001)
    val driver = Dedup.nearDupClusters(d, "doc_id", "text", 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    val loop = Dedup.nearDupClusters(d, "doc_id", "text", 0.9,
        maxDriverEdges = 0L)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(driver == loop)
  }

  test("nearDupClusters groups every pair member under one representative") {
    val d = Tables.documents(spark, sf001)
    val pairs = Dedup.minhashNearDupPairs(d, "doc_id", "text", 0.9)
    val clusters = Dedup.nearDupClusters(d, "doc_id", "text", 0.9)
    // every pair's two docs share a representative
    val reps = clusters.withColumnRenamed("doc_id", "k")
    val joined = pairs
      .join(reps.select(col("k").as("id_a"), col("cluster_rep").as("rep_a")), Seq("id_a"))
      .join(reps.select(col("k").as("id_b"), col("cluster_rep").as("rep_b")), Seq("id_b"))
    assert(joined.filter(col("rep_a") =!= col("rep_b")).count() == 0)
    // representatives are component minima: rep <= member id
    assert(clusters.filter(col("cluster_rep") > col("doc_id")).count() == 0)
  }

  test("nearDupClusters keeps NULL-text and empty-text docs as singletons") {
    import spark.implicits._
    val docs = Seq(
      (1L, "the quick brown fox"),
      (2L, "the quick brown fox"),
      (3L, null.asInstanceOf[String]),
      (4L, null.asInstanceOf[String]),
      (5L, ""),
      (6L, "   ")).toDF("doc_id", "text")
    val lsh = Dedup.MinHashParams(bruteForceMaxDocs = 0)
    // identical docs cluster; NULL/empty/whitespace docs never pair and
    // each stays its own representative (NULL used to collapse into one
    // shared identical-set group) — on the brute-force path and on the
    // LSH path with the distributed loop, where empty sets would collide
    // in every band and Jaccard of two of them divides 0/0
    for (got <- Seq(Dedup.nearDupClusters(docs, "doc_id", "text", 0.9),
        Dedup.nearDupClusters(docs, "doc_id", "text", 0.9, lsh, maxDriverEdges = 0)))
      assert(got.as[(Long, Long)].collect().toMap ==
        Map(1L -> 1L, 2L -> 1L, 3L -> 3L, 4L -> 4L, 5L -> 5L, 6L -> 6L))
    assert(Dedup.minhashNearDupPairs(docs, "doc_id", "text", 0.9, lsh)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSeq == Seq((1L, 2L)))
  }

  test("containmentPairs: prefix-filter path == all-pairs lens on the fixture corpus") {
    // differential on real data: the prefix-filter candidates + exact
    // verification must reproduce the brute-force containment answer
    // EXACTLY (the prefix guarantee is recall 1.0, not approximate)
    val corpus = Tables.documents(spark, sf001)
    def allPairs(t: Double) = {
      val sets = corpus.select(col("doc_id").as("id"),
          Text.hashedShingleSet(col("text"), 1).as("s"))
        .withColumn("sz", size(col("s"))).filter(col("sz") > 0)
      val a = sets.select(col("id").as("id_a"), col("s").as("s_a"), col("sz").as("sz_a"))
      val b = sets.select(col("id").as("id_b"), col("s").as("s_b"), col("sz").as("sz_b"))
      def inter = call_function(
        "graft_sorted_intersect_count", col("s_a"), col("s_b")).cast("double")
      a.join(b, col("id_a") < col("id_b") &&
          inter >= lit(t) * least(col("sz_a"), col("sz_b")))
        .select(col("id_a"), col("id_b"),
          round(inter / least(col("sz_a"), col("sz_b")), 6).as("containment"))
    }
    for (t <- Seq(0.9, 0.7)) {
      val want = allPairs(t).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      val got = Dedup.containmentPairs(corpus, "doc_id", "text", t).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      assert(got == want,
        s"t=$t: prefix path lost ${(want -- got).size} pairs / " +
          s"invented ${(got -- want).size}")
    }
  }

  test("containmentPairs: hot-token lanes are recall-lossless") {
    // the skew lever reroutes hot tokens' postings into salted lanes
    // and fans their prefix rows across them — the PAIR SET must be
    // bit-identical to the unsalted path at any (df threshold, lanes)
    val corpus = Tables.documents(spark, sf001)
    val want = Dedup.containmentPairs(corpus, "doc_id", "text", 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    for ((df, lanes) <- Seq((1L, 4), (50L, 16))) {
      val got = Dedup.containmentPairs(corpus, "doc_id", "text", 0.9,
          hotTokenDf = df, hotTokenSalts = lanes)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      assert(got == want,
        s"df=$df lanes=$lanes: lost ${(want -- got).size} pairs / " +
          s"invented ${(got -- want).size}")
    }
  }

  test("containmentPairs: a short doc embedded in a long one scores ~1.0") {
    import spark.implicits._
    val long =
      "alpha beta gamma delta epsilon zeta eta theta iota kappa " +
        "lambda mu nu xi omicron pi rho sigma tau upsilon"
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon"), // ⊂ doc 3 verbatim
      (2L, "unrelated words entirely here now"),
      (3L, long)).toDF("doc_id", "text")
    val got = Dedup.containmentPairs(docs, "doc_id", "text", 0.9)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    assert(got.keySet == Set((1L, 3L)))
    assert(got((1L, 3L)) == 1.0)
  }

  test("jaccardPairsPostings == jaccardPairsExact on the fixture corpus") {
    val corpus = Tables.documents(spark, sf001)
      .filter(col("doc_id") < 300)
    val exact = Dedup.jaccardPairsExact(corpus, "doc_id", "text", 0.8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val postings = Dedup.jaccardPairsPostings(corpus, "doc_id", "text", 0.8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(exact.nonEmpty)
    assert(postings == exact)
  }

  test("embeddingNearDups: assignment matches exact all-pairs pipeline on planted clusters") {
    val e = SimSearch.clusteredView(
      Tables.embeddings(spark, sf001), "vec_id", "embedding",
      nClusters = 20, mix = 0.15)
      .filter(col("vec_id") < 200)
    val (assign, candidates) = Dedup.embeddingNearDups(
      e, "vec_id", "embedding", 0.6, nCentroids = 32, nProbe = 2,
      lloydIters = 0)
    val exactPairs = SimSearch.cosinePairs(e, "vec_id", "embedding", 0.6)
    val exactAssign = Dedup.connectedComponents(
      e.select(col("vec_id").as("id")), exactPairs)
    // recall: every exact pair appears among the thresholded candidates
    val ann = candidates.filter(col("cos") >= 0.6).select("id_a", "id_b")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val exa = exactPairs.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exa.nonEmpty, "planted view produced no exact near-dup pairs")
    val recall = exa.count(ann).toDouble / exa.size
    assert(recall >= 0.9, s"recall $recall below 0.9 (${exa.size} exact pairs)")
    // candidate set is sublinear in the pair space
    val n = e.count()
    assert(candidates.count() < n * (n - 1) / 2 * 0.5,
      "candidate set not sublinear vs all pairs")
    // full-pipeline agreement: representatives match the exact CC's
    val joined = assign.withColumnRenamed("cluster_rep", "ann_rep")
      .join(exactAssign, Seq("id"))
    val total = joined.count()
    val agree = joined.filter(col("ann_rep") === col("cluster_rep")).count()
    assert(total === n)
    assert(agree.toDouble / total >= 0.9,
      s"cluster agreement $agree/$total below 0.9")
  }

  test("embeddingNearDups: singletons map to themselves; distributed CC path agrees") {
    val e = SimSearch.clusteredView(
      Tables.embeddings(spark, sf001), "vec_id", "embedding",
      nClusters = 20, mix = 0.15)
      .filter(col("vec_id") < 120)
    val (driver, _) = Dedup.embeddingNearDups(
      e, "vec_id", "embedding", 0.6, nCentroids = 16, nProbe = 2,
      lloydIters = 0)
    val (looped, _) = Dedup.embeddingNearDups(
      e, "vec_id", "embedding", 0.6, nCentroids = 16, nProbe = 2,
      lloydIters = 0, maxDriverEdges = 0L)
    val d = driver.collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    val l = looped.collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(d === l, "driver union-find and distributed loop disagree")
    assert(d.size === 120)
    // every id has an assignment and reps are component minima
    d.foreach { case (id, rep) => assert(rep <= id) }
  }
}
