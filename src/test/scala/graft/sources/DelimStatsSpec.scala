package graft.sources

import org.apache.hadoop.fs.{Path => HPath}
import org.apache.spark.sql.functions._

import graft.SparkFunSuite
import graft.sources.v2.{DelimLog, DelimScanMetrics, DelimV2}

/** Certifies manifest FILE STATS (per-column min/max/null-count,
  * recorded by the writer) and the data skipping they drive: a file
  * whose stats prove no row matches a pushed data filter is never
  * opened. Conservatism is the contract — unbounded columns (NaN
  * doubles, >64-char strings), missing stats, and legacy entries all
  * keep their files.
  */
class DelimStatsSpec extends SparkFunSuite {
  import spark.implicits._

  /** (files listed, files kept) of `df`'s executed scan. */
  private def keptOf(df: org.apache.spark.sql.DataFrame): (Long, Long) = {
    val m = DelimScanMetrics.one(df)
    assert(m.filesListed > 0, "the scan has not executed")
    (m.filesListed, m.filesKept)
  }

  test("range filters skip files via min/max stats; results exact") {
    val dir = tempDir("delimstats-range")
    val t = s"$dir/t"
    spark.range(0, 8000).select($"id", ($"id" % 97).cast("double").as("v"),
        concat(lit("name-"), $"id").as("name"))
      .repartitionByRange(8, $"id").sortWithinPartitions("id")
      .write.format("graft-delim").mode("overwrite").save(t)
    val fs = new HPath(t).getFileSystem(spark.sessionState.newHadoopConf())
    val m = DelimLog.readManifest(fs, new HPath(t)).get
    assert(m.files.size == 8 && m.files.forall(_.stats.nonEmpty),
      s"expected 8 stats-bearing files: ${m.files}")
    def q(cond: org.apache.spark.sql.Column) = spark.read.format("graft-delim")
      .schema("id BIGINT, v DOUBLE, name STRING").load(t).filter(cond)
    // a 1/8th key slice keeps ~1 file of 8
    val slice = q($"id" >= 2000 && $"id" < 3000)
    val hits = slice.collect()
    assert(hits.length == 1000)
    assert(hits.map(_.getLong(0)).toSet == (2000L until 3000L).toSet)
    val (disc, kept) = keptOf(slice)
    assert(disc == 8 && kept <= 2, s"stats skipping missed: $disc/$kept")
    // string equality prunes too (names are clustered with ids only
    // loosely — the point is correctness stays exact whatever is kept)
    val one = q($"name" === "name-4242").collect()
    assert(one.length == 1 && one(0).getLong(0) == 4242L)
    // impossible ranges keep zero files
    val none = q($"id" > 1000000)
    none.collect()
    assert(keptOf(none)._2 == 0)
  }

  test("null-count stats: IsNull skips all-non-null files, IsNotNull skips all-null") {
    val dir = tempDir("delimstats-nulls")
    val t = s"$dir/t"
    // file A: v never null; file B: v always null
    Seq((1L, java.lang.Double.valueOf(1.5)), (2L, java.lang.Double.valueOf(2.5)))
      .toDF("id", "v").repartition(1)
      .write.format("graft-delim").mode("overwrite").save(t)
    Seq((3L, null.asInstanceOf[java.lang.Double]),
        (4L, null.asInstanceOf[java.lang.Double]))
      .toDF("id", "v").repartition(1)
      .write.format("graft-delim").mode("append").save(t)
    def rd = spark.read.format("graft-delim").schema("id BIGINT, v DOUBLE").load(t)
    val nulls = rd.filter($"v".isNull)
    assert(nulls.collect().map(_.getLong(0)).toSet == Set(3L, 4L))
    assert(keptOf(nulls)._2 == 1, "IsNull should keep only the null-bearing file")
    val nonNulls = rd.filter($"v".isNotNull)
    assert(nonNulls.collect().map(_.getLong(0)).toSet == Set(1L, 2L))
    assert(keptOf(nonNulls)._2 == 1, "IsNotNull should keep only the non-null file")
  }

  test("conservatism: NaN doubles and long strings invalidate their columns only") {
    val dir = tempDir("delimstats-conserve")
    val t = s"$dir/t"
    val long = "x" * 100
    Seq((1L, Double.NaN, long), (2L, 2.0, "short"))
      .toDF("id", "v", "s").repartition(1)
      .write.format("graft-delim").mode("overwrite").save(t)
    val fs = new HPath(t).getFileSystem(spark.sessionState.newHadoopConf())
    val m = DelimLog.readManifest(fs, new HPath(t)).get
    val st = DelimV2.decodeStats(m.files.head.stats,
      m.schemas.get(m.files.head.gen)).get
    assert(st.cols.contains("id") && !st.cols.contains("v") &&
      !st.cols.contains("s"), st.cols.keySet)
    // unbounded columns never skip — both rows stay reachable
    val rd = spark.read.format("graft-delim")
      .schema("id BIGINT, v DOUBLE, s STRING").load(t)
    assert(rd.filter($"v" === 2.0).count() == 1)
    assert(rd.filter(length($"s") === 100).count() == 1)
  }

  test("compaction merges stats; skipping still fires on the compacted file") {
    val dir = tempDir("delimstats-compact")
    val t = s"$dir/t"
    for (g <- 0 until 3)
      spark.range(g * 100, (g + 1) * 100).select($"id", lit("a").as("pc"))
        .repartition(1)
        .write.format("graft-delim").option("partitionBy", "pc")
        .mode(if (g == 0) "overwrite" else "append").save(t)
    spark.range(1000, 1100).select($"id", lit("b").as("pc")).repartition(1)
      .write.format("graft-delim").option("partitionBy", "pc")
      .mode("append").save(t)
    graft.sources.v2.DelimCompact.compact(spark, t)
    val fs = new HPath(t).getFileSystem(spark.sessionState.newHadoopConf())
    val m = DelimLog.readManifest(fs, new HPath(t)).get
    val aEntry = m.files.find(_.rel.startsWith("pc=a/")).get
    val aStats = DelimV2.decodeStats(aEntry.stats, m.schemas.get(aEntry.gen))
    assert(aStats.isDefined && aStats.get.rows == 300, aEntry.stats)
    assert(aStats.get.cols("id").min == 0L && aStats.get.cols("id").max == 299L)
    // the merged bound skips the compacted pc=a file for a pc=b-range key
    val rd = spark.read.format("graft-delim")
      .schema("id BIGINT, pc STRING").load(t).filter($"id" >= 1000)
      .groupBy().count()
    assert(rd.collect().head.getLong(0) == 100)
    assert(keptOf(rd)._2 == 1, "merged stats failed to skip the compacted file")
  }

  test("complete MIN/MAX/COUNT pushdown answers from the manifest, zero data reads") {
    val dir = tempDir("delimstats-fullagg")
    val t = s"$dir/t"
    Seq((5L, java.lang.Double.valueOf(1.5), "a"),
        (1L, null.asInstanceOf[java.lang.Double], "b"),
        (9L, java.lang.Double.valueOf(-2.0), "a"))
      .toDF("id", "v", "pc").repartition(2)
      .write.format("graft-delim").option("partitionBy", "pc")
      .mode("overwrite").save(t)
    def rd = spark.read.format("graft-delim")
      .schema("id BIGINT, v DOUBLE, pc STRING").load(t)
    val agg = rd.agg(min($"id").as("mn"), max($"id").as("mx"),
      count(lit(1)).as("n"), count($"v").as("nv"),
      min($"pc").as("pmin"), max($"pc").as("pmax"))
    val plan = agg.queryExecution.executedPlan.toString
    assert(plan.contains("PushedAggregation: [stats-complete]"),
      s"aggregate not answered from stats:\n$plan")
    val r = agg.collect().head
    assert((r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
      r.getString(4), r.getString(5)) == (1L, 9L, 3L, 2L, "a", "b"))
    val DelimScanMetrics(_, _, kept, splits, _, _) = DelimScanMetrics.one(agg)
    assert(kept == 0 && splits == 1, s"stats agg opened files: $kept/$splits")
    // a data filter disables the complete path; the answer stays exact
    val filtered = rd.filter($"id" >= 2).agg(min($"id"), count(lit(1)))
    val fplan = filtered.queryExecution.executedPlan.toString
    assert(!fplan.contains("PushedAggregation: [stats-complete]"),
      s"filtered aggregate must not answer from whole-file stats:\n$fplan")
    val fr = filtered.collect().head
    assert(fr.getLong(0) == 5L && fr.getLong(1) == 2L)
    // distinct counts never push complete
    val d = rd.agg(countDistinct($"id"))
    assert(!d.queryExecution.executedPlan.toString.contains("PushedAggregation: [stats-complete]"))
    assert(d.collect().head.getLong(0) == 3L)
  }

  test("stats round-trip adversarial string bounds exactly") {
    val dir = tempDir("delimstats-esc")
    val t = s"$dir/t"
    val vals = Seq("a:b;c%d", "zz\tq", "m\"x|y\"")
    vals.zipWithIndex.map { case (s, i) => (i.toLong, s) }.toDF("id", "s")
      .repartition(1)
      .write.format("graft-delim").mode("overwrite").save(t)
    val fs = new HPath(t).getFileSystem(spark.sessionState.newHadoopConf())
    val m = DelimLog.readManifest(fs, new HPath(t)).get
    val st = DelimV2.decodeStats(m.files.head.stats,
      m.schemas.get(m.files.head.gen)).get
    assert(st.cols("s").min == vals.min && st.cols("s").max == vals.max,
      st.cols("s"))
    // and equality on the min value keeps the file + finds the row
    val rd = spark.read.format("graft-delim")
      .schema("id BIGINT, s STRING").load(t)
    assert(rd.filter($"s" === vals.min).count() == 1)
  }
}
