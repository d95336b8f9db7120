package graft.core

import org.scalacheck.{Gen, Properties, Test}
import org.scalacheck.Prop.forAll

import graft.TestSpark
import graft.ext.{Dedup, Text}
import org.apache.spark.sql.functions._

/** Property-based invariants (SURVEY.md §5.3). Each property runs Spark
  * jobs, so sample counts are kept small — the point is shrinkable
  * structural counterexamples, not volume.
  */
object EngineProperties extends Properties("graft") {

  override def overrideParameters(p: Test.Parameters): Test.Parameters =
    p.withMinSuccessfulTests(5)

  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private val rowsGen: Gen[List[(Int, String)]] =
    Gen.listOfN(20, Gen.zip(Gen.chooseNum(0, 100), Gen.alphaNumStr.map(_.take(8))))

  property("split column partitions any id set into exactly train|test") =
    forAll(Gen.listOfN(15, Gen.chooseNum(0L, 1000000L))) { ids =>
      ids.isEmpty || {
        val df = ids.distinct.toDF("doc_id")
        val split = graft.ext.Curation
          .trainTestSplit(df, "doc_id", 0.8).groupBy("split").count()
          .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
        split.keySet.subsetOf(Set("train", "test")) &&
          split.values.sum == ids.distinct.length
      }
    }

  property("token packing conserves docs and tokens on arbitrary corpora") =
    forAll(Gen.listOfN(12, Gen.zip(Gen.chooseNum(0L, 100000L),
      Gen.option(Gen.listOfN(5, Gen.alphaStr.map(_.take(4))).map(_.mkString(" ")))))) { docs =>
      docs.isEmpty || {
        val df = docs.distinctBy(_._1).toDF("doc_id", "text")
        val packed = graft.ext.Curation
          .packTokenBudget(df, "doc_id", "text", budget = 7L)
        val Row2 = packed.agg(count(lit(1)), sum("n_tok")).head()
        val expDocs = docs.distinctBy(_._1).length.toLong
        val expToks = df.select(
          coalesce(size(Text.tokens(col("text"))), lit(0)).cast("long"))
          .collect().map(_.getLong(0)).sum
        Row2.getLong(0) == expDocs && Row2.getLong(1) == expToks
      }
    }

  property("fingerprint is invariant under row permutation") =
    forAll(rowsGen) { rows =>
      rows.isEmpty || {
        val a = rows.toDF("id", "s")
        val b = scala.util.Random.shuffle(rows).toDF("id", "s").repartition(3)
        val da = Fingerprint.table(a, "t").select("digest").head.getString(0)
        val db = Fingerprint.table(b, "t").select("digest").head.getString(0)
        da == db
      }
    }

  property("fingerprint detects any single-cell mutation") =
    forAll(rowsGen.suchThat(_.nonEmpty)) { rows =>
      // index-prefix makes rows unique, so the mutated multiset differs
      val indexed = rows.zipWithIndex.map { case ((i, s), ix) => (ix, s"$ix-$s-$i") }
      val mutated = indexed.updated(0, (indexed.head._1, indexed.head._2 + "!"))
      val da = Fingerprint.table(indexed.toDF("id", "s"), "t").select("digest").head.getString(0)
      val db = Fingerprint.table(mutated.toDF("id", "s"), "t").select("digest").head.getString(0)
      da != db
    }

  property("reconcile of a count set with itself is all matched") =
    forAll(Gen.listOfN(10,
      Gen.zip(Gen.oneOf("t1", "t2"), Gen.alphaLowerStr.map(s => "k=" + s.take(4)), Gen.chooseNum(0L, 999L)))) { rows =>
      val distinctRows = rows.distinctBy(r => (r._1, r._2))
      val df = distinctRows.toDF("table", "partition", "cnt")
      Reconcile.counts(df, df).filter(col("status") =!= "matched").count() == 0
    }

  property("exact dedup is idempotent") =
    forAll(rowsGen) { rows =>
      val df = rows.toDF("id", "s")
      val once = Dedup.exact(df, Seq("s"))
      val twice = Dedup.exact(once, Seq("s"))
      once.count() == twice.count()
    }

  property("sorted-merge jaccard kernel equals built-in array_intersect jaccard") =
    forAll(Gen.listOfN(6,
      Gen.zip(Gen.listOfN(12, Gen.oneOf("a", "b", "c", "dd", "ee", "f", "gg", "hh")),
        Gen.listOfN(12, Gen.oneOf("a", "b", "c", "dd", "ee", "f", "gg", "hh"))))) { pairs =>
      val df = pairs.map { case (x, y) =>
        (x.distinct.sorted.mkString(" "), y.distinct.sorted.mkString(" "))
      }.toDF("ta", "tb")
        .select(Text.tokenSet(col("ta")).as("a"), Text.tokenSet(col("tb")).as("b"))
      val cmp = df.select(
        (Text.jaccardSorted(col("a"), col("b")) <=> Text.jaccard(col("a"), col("b"))).as("eq"))
      cmp.filter(!col("eq")).count() == 0
    }

  property("deletion-neighborhood fuzzy join equals brute-force levenshtein <= 1") =
    forAll(Gen.listOfN(10,
      Gen.choose(2, 4).flatMap(n => Gen.listOfN(n, Gen.oneOf('a', 'b', 'c')).map(_.mkString)))) { names =>
      def lev(a: String, b: String): Int = {
        val d = Array.tabulate(a.length + 1, b.length + 1)((i, j) => if (j == 0) i else if (i == 0) j else 0)
        for (i <- 1 to a.length; j <- 1 to b.length)
          d(i)(j) = math.min(math.min(d(i - 1)(j) + 1, d(i)(j - 1) + 1),
            d(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
        d(a.length)(b.length)
      }
      val keyed = names.zipWithIndex.map { case (s, i) => (i.toLong, s) }
      val got = graft.ext.FuzzyJoin.editDistance1Pairs(keyed.toDF("id", "name"), "id", "name")
        .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val exp = (for {
        (ia, a) <- keyed; (ib, b) <- keyed
        if ia < ib && lev(a, b) <= 1
      } yield (ia, ib)).toSet
      got == exp
    }

  property("sparse cosine pairs equal brute-force tf-cosine at the threshold") =
    forAll(Gen.listOfN(8,
      Gen.listOfN(6, Gen.oneOf("x", "y", "z", "w")).map(_.mkString(" ")))) { texts =>
      val keyed = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      val got = graft.ext.SparseSim
        .cosinePairs(keyed.toDF("doc_id", "text"), "doc_id", "text", 0.7, maxDf = 100)
        .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      def tf(t: String): Map[String, Long] =
        t.toLowerCase.split("\\s+").filter(_.nonEmpty)
          .groupBy(identity).map { case (k, v) => k -> v.length.toLong }
      val exp = (for {
        (ia, ta) <- keyed; (ib, tb) <- keyed
        if ia < ib
        fa = tf(ta); fb = tf(tb)
        dot = fa.keySet.intersect(fb.keySet).toSeq.map(k => fa(k) * fb(k)).sum
        na2 = fa.values.map(v => v * v).sum; nb2 = fb.values.map(v => v * v).sum
        if na2 > 0 && nb2 > 0 && 10000L * dot * dot >= 4900L * na2 * nb2
      } yield (ia, ib)).toSet
      got == exp
    }

  property("limitN sample is stable across physical layouts") =
    forAll(rowsGen.suchThat(_.size >= 5), Gen.chooseNum(2, 7)) { (rows, parts) =>
      val df = rows.toDF("id", "s")
      val a = Sample.limitN(df, 3).collect().toSeq
      val b = Sample.limitN(df.repartition(parts), 3).collect().toSeq
      a == b
    }
}
