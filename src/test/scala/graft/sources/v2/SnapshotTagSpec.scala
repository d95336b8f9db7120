package graft.sources.v2

import org.apache.hadoop.fs.{Path => HPath}
import org.apache.spark.sql.functions._

import graft.SparkFunSuite

/** Snapshot TAGS (round-20): named retention-exempt pins on a
  * generation. The oracle query (`delim_v2_snapshot_tag`) certifies
  * the lifecycle end-to-end; this spec pins the mechanics the query
  * cannot reach: tags ride ordinary commits, guard rails (duplicate
  * tag, expired generation, malformed names), and — the scale case —
  * a SEGMENTED table's tagged snapshot keeps its segment files
  * through the per-commit segment GC.
  */
class SnapshotTagSpec extends SparkFunSuite {
  import spark.implicits._

  private def fs(t: String) =
    new HPath(t).getFileSystem(spark.sessionState.newHadoopConf())
  private def manifest(t: String) =
    DelimLog.readManifest(fs(t), new HPath(t)).get

  private def mk(name: String, t: String): Unit = {
    spark.sql(s"DROP TABLE IF EXISTS graft_cat.default.$name")
    spark.sql(s"""CREATE TABLE graft_cat.default.$name
      (id BIGINT, v DOUBLE) USING `graft-delim` LOCATION '$t'""")
    (1L to 10L).map(i => (i, i.toDouble)).toDF("id", "v")
      .coalesce(1).writeTo(s"graft_cat.default.$name").append()
  }

  test("tags ride ordinary commits and reject duplicates/expired/malformed") {
    val t = s"${tempDir("tag-rails")}/t"
    mk("tagr_t", t)
    spark.sql("CALL graft_cat.system.create_tag(" +
      "table => 'default.tagr_t', tag => 'v1')")
    // an ordinary append carries the tag map forward
    (11L to 12L).map(i => (i, i.toDouble)).toDF("id", "v")
      .coalesce(1).writeTo("graft_cat.default.tagr_t").append()
    assert(manifest(t).tags == Map("v1" -> 1L))
    // duplicate
    val dup = intercept[Exception] {
      spark.sql("CALL graft_cat.system.create_tag(" +
        "table => 'default.tagr_t', tag => 'v1')")
    }
    assert(dup.getMessage.contains("already exists"))
    // a generation that is not retained cannot be pinned
    val gone = intercept[Exception] {
      spark.sql("CALL graft_cat.system.create_tag(" +
        "table => 'default.tagr_t', tag => 'v0', version => 999)")
    }
    assert(gone.getMessage.contains("not retained"))
    // names that would corrupt the header grammar reject
    val bad = intercept[Exception] {
      spark.sql("CALL graft_cat.system.create_tag(" +
        "table => 'default.tagr_t', tag => 'a,b')")
    }
    assert(bad.getMessage.contains("tag names"))
    // drop of a missing tag is loud
    val miss = intercept[Exception] {
      spark.sql("CALL graft_cat.system.drop_tag(" +
        "table => 'default.tagr_t', tag => 'nope')")
    }
    assert(miss.getMessage.contains("no snapshot tag"))
    // tagAsOf composes with the mutual-exclusion guard
    val both = intercept[Exception] {
      spark.read.format("graft-delim").schema("id BIGINT, v DOUBLE")
        .option("tagAsOf", "v1").option("versionAsOf", "1")
        .load(t).count()
    }
    assert((both.getMessage +
      Option(both.getCause).map(_.getMessage).getOrElse(""))
      .contains("mutually exclusive"))
  }

  test("a segmented table's tagged snapshot keeps its segments through GC") {
    val saved = sys.props.get("graft.segment.gc.graceMs")
    sys.props("graft.segment.gc.graceMs") = "0"
    try {
      val t = s"${tempDir("tag-seg")}/t"
      spark.sql("DROP TABLE IF EXISTS graft_cat.default.tags_t")
      spark.sql(s"""CREATE TABLE graft_cat.default.tags_t
        (id BIGINT, pc STRING) USING `graft-delim`
        PARTITIONED BY (pc) LOCATION '$t'""")
      // segmented: 2 partitions x 4 appends, segSize 4
      for (a <- 0 until 4)
        (0 until 8).map(i => (a * 8L + i, if (i % 2 == 0) "a" else "b"))
          .toDF("id", "pc").coalesce(1)
          .write.format("graft-delim")
          .option("partitionBy", "pc")
          .option("manifestSegmentSize", "4")
          .mode("append").save(t)
      val genTagged = manifest(t).gen
      spark.sql("CALL graft_cat.system.create_tag(" +
        "table => 'default.tags_t', tag => 'pin')")
      val pinnedSegs = DelimLog.segmentNamesOf(fs(t),
        new HPath(t, s"${DelimLog.ManifestFile}.v$genTagged")).toSet
      assert(pinnedSegs.nonEmpty, "fixture must be segmented")
      // churn: overwrite the whole table (new segments), expire hard
      (100L to 131L).map(i => (i, if (i % 2 == 0) "a" else "b"))
        .toDF("id", "pc").coalesce(1)
        .write.format("graft-delim")
        .option("partitionBy", "pc")
        .option("manifestSegmentSize", "4")
        .mode("overwrite").save(t)
      spark.sql("CALL graft_cat.system.expire_snapshots(" +
        "table => 'default.tags_t', retain => 1)")
      // the tagged generation's segment files all survive the sweeps
      pinnedSegs.foreach(n => assert(fs(t).exists(new HPath(t, n)),
        s"tagged snapshot's segment swept: $n"))
      // and the pinned read still answers exactly
      val pinned = spark.read.format("graft-delim")
        .schema("id BIGINT, pc STRING")
        .option("tagAsOf", "pin").load(t)
      assert(pinned.count() == 32L)
      assert(pinned.agg(sum($"id")).collect()(0).getLong(0) ==
        (0L until 32L).sum)
      // current read is the overwrite
      assert(spark.read.format("graft-delim")
        .schema("id BIGINT, pc STRING").load(t).count() == 32L)
    } finally {
      saved match {
        case Some(v) => sys.props("graft.segment.gc.graceMs") = v
        case None => sys.props.remove("graft.segment.gc.graceMs")
      }
    }
  }
}
