package graft.sources.v2

import org.apache.hadoop.fs.{Path => HPath}

import graft.SparkFunSuite

/** Segmented-manifest certification (the 100 TB manifest posture):
  * past `manifestSegmentSize` entries the committed `_manifest.v<gen>`
  * becomes a small INDEX over immutable content-addressed segment
  * files, grouped per leaf partition directory. The contract under
  * test: reads are byte-equivalent to the inline design; an append
  * touching one partition lands exactly one new segment plus the
  * index; planning with a pushed partition equality loads only that
  * partition's segments; time travel, TRUNCATE, compaction, and
  * retention-driven segment GC all keep working.
  */
class ManifestSegmentSpec extends SparkFunSuite {
  import spark.implicits._

  // the GC-observing tests below assert immediate sweeping; production
  // default is a 10-minute grace window (readers mid-plan on the old
  // index must not lose their segments underfoot)
  sys.props("graft.segment.gc.graceMs") = "0"

  private def fs(t: String) =
    new HPath(t).getFileSystem(spark.sessionState.newHadoopConf())
  private def manifest(t: String) =
    DelimLog.readManifest(fs(t), new HPath(t)).get
  private def segFiles(t: String): Set[String] =
    Option(fs(t).globStatus(new HPath(t, s"${DelimLog.SegPrefix}*")))
      .map(_.toSeq).getOrElse(Nil).map(_.getPath.getName).toSet
  private def rawPointer(t: String): String = {
    val in = fs(t).open(new HPath(t, DelimLog.ManifestFile))
    try scala.io.Source.fromInputStream(in, "UTF-8").mkString
    finally in.close()
  }
  /** 8 partitions x `appends` generations, one file per (partition,
    * append); segSize 8 so each partition's run stays one chunk. */
  private def build(t: String, appends: Int = 4): Unit = {
    for (a <- 0 until appends) {
      val df = (0 until 64).map { i =>
        (a * 64L + i, f"p${i % 8}%02d")
      }.toDF("id", "pc")
      df.coalesce(1).write.format("graft-delim")
        .option("partitionBy", "pc")
        .option("manifestSegmentSize", "8")
        .mode(if (a == 0) "overwrite" else "append").save(t)
    }
  }

  test("past the threshold the pointer is an index and reads stay exact") {
    val t = s"${tempDir("seg-basic")}/t"
    build(t)
    val m = manifest(t)
    assert(m.segSize == 8 && m.files.size == 32, s"files=${m.files.size}")
    val doc = rawPointer(t)
    assert(doc.contains("#segment\t"), "pointer is not an index")
    assert(!doc.linesIterator.exists(l =>
      l.nonEmpty && !l.startsWith("#")), "index must carry no entry lines")
    assert(segFiles(t).nonEmpty)
    val back = spark.read.format("graft-delim")
      .schema("id BIGINT, pc STRING").load(t)
    assert(back.count() == 256L)
    assert(back.agg(org.apache.spark.sql.functions.sum($"id")).head.getLong(0)
      == (0L until 256L).sum)
  }

  test("an append to one partition writes exactly one new segment + index") {
    val t = s"${tempDir("seg-onewrite")}/t"
    build(t)
    val before = segFiles(t)
    val genBefore = manifest(t).gen
    Seq((999L, "p03")).toDF("id", "pc")
      .coalesce(1).write.format("graft-delim").option("partitionBy", "pc")
      .mode("append").save(t)
    val after = segFiles(t)
    val born = after -- before
    assert(born.size == 1,
      s"append touched ${born.size} segments: ${born.mkString(", ")}")
    assert(manifest(t).gen == genBefore + 1)
    // the new segment is p03's chunk: it covers the appended rel
    val m = manifest(t)
    assert(m.files.count(_.rel.startsWith("pc=p03/")) == 5)
    assert(spark.read.format("graft-delim").schema("id BIGINT, pc STRING")
      .load(t).filter($"id" === 999L).count() == 1L)
  }

  test("planning with a pushed partition equality loads a fraction of segments") {
    val t = s"${tempDir("seg-prune")}/t"
    build(t)
    val df = spark.read.format("graft-delim")
      .schema("id BIGINT, pc STRING").load(t)
    /** `q`'s single row's first long, and its scan's segment counts. */
    def run(q: org.apache.spark.sql.DataFrame): (Long, (Long, Long)) = {
      val v = q.collect().head.getLong(0)
      val m = DelimScanMetrics.one(q)
      (v, (m.segmentsIndexed, m.segmentsLoaded))
    }
    val (got, (total, read)) = run(df.filter($"pc" === "p03")
      .agg(org.apache.spark.sql.functions.sum($"id")))
    val expect = (0 until 4).flatMap(a =>
      (0 until 64).filter(_ % 8 == 3).map(i => a * 64L + i)).sum
    assert(got == expect)
    assert(total == 8, s"expected 8 segments, index has $total")
    assert(read == 1, s"pruned plan read $read of $total segments")
    // IN over two partitions reads exactly two
    val (n2, segs2) = run(df.filter($"pc".isin("p01", "p06")).groupBy().count())
    assert(n2 == 64L)
    assert(segs2._2 == 2)
    // an unfiltered read loads everything
    val (nAll, segsAll) = run(df.groupBy().count())
    assert(nAll == 256L)
    assert(segsAll._1 > 0 && segsAll._2 == segsAll._1)
  }

  test("time travel reads an older segmented snapshot verbatim") {
    val t = s"${tempDir("seg-tt")}/t"
    for (a <- 0 until 3) {
      (0 until 32).map(i => (a * 32L + i, f"p${i % 4}%02d")).toDF("id", "pc")
        .coalesce(1).write.format("graft-delim").option("partitionBy", "pc")
        .option("manifestSegmentSize", "4")
        .option("retainVersions", "3")
        .mode(if (a == 0) "overwrite" else "append").save(t)
    }
    val cur = manifest(t).gen
    val old = spark.read.format("graft-delim")
      .schema("id BIGINT, pc STRING")
      .option("versionAsOf", (cur - 1).toString).load(t)
    assert(old.count() == 64L)
    assert(spark.read.format("graft-delim").schema("id BIGINT, pc STRING")
      .load(t).count() == 96L)
  }

  test("retention expiry GCs segments no retained snapshot references") {
    val t = s"${tempDir("seg-gc")}/t"
    build(t, appends = 4) // retain defaults to 1: only the live snapshot
    val live = segFiles(t)
    // every on-disk segment is referenced by the live index (orphans
    // from replaced chunks were swept by the commits that obsoleted
    // them)
    val referenced = rawPointer(t).linesIterator
      .filter(_.startsWith("#segment\t")).map(_.split('\t')(1)).toSet
    assert(live == referenced,
      s"unreferenced segments on disk: ${(live -- referenced).mkString(", ")}")
    // a static overwrite drops every old segment once expired
    (0 until 16).map(i => (i.toLong, f"p${i % 8}%02d")).toDF("id", "pc")
      .coalesce(1).write.format("graft-delim").option("partitionBy", "pc")
      .mode("overwrite").option("overwriteMode", "static").save(t)
    val after = segFiles(t)
    assert(after.intersect(live).isEmpty,
      s"expired segments survive: ${after.intersect(live).mkString(", ")}")
    assert(spark.read.format("graft-delim").schema("id BIGINT, pc STRING")
      .load(t).count() == 16L)
  }

  test("TRUNCATE and compaction keep working on a segmented table") {
    val t = s"${tempDir("seg-maint")}/t"
    build(t)
    DelimCompact.compact(spark, t)
    val m = manifest(t)
    assert(m.segSize == 8, "compaction dropped the segment policy")
    assert(spark.read.format("graft-delim").schema("id BIGINT, pc STRING")
      .load(t).count() == 256L)
    spark.sql(s"DROP TABLE IF EXISTS graft_cat.default.seg_maint")
    spark.sql(s"""CREATE TABLE graft_cat.default.seg_maint
      (id BIGINT, pc STRING) USING `graft-delim`
      PARTITIONED BY (pc) LOCATION '$t'""")
    spark.sql("TRUNCATE TABLE graft_cat.default.seg_maint")
    assert(manifest(t).files.isEmpty)
    assert(manifest(t).segSize == 8, "TRUNCATE dropped the segment policy")
    assert(spark.table("graft_cat.default.seg_maint").count() == 0L)
  }

  test("streaming epochs commit through the segment policy; the stream source reads them back") {
    val dir = tempDir("seg-stream")
    val t = s"$dir/t"
    build(t) // segmented batch history (segsize=8, 32 entries)
    for (b <- 0 until 2)
      spark.range(1000L + b * 10, 1000L + (b + 1) * 10)
        .selectExpr("id", "'p00' as pc")
        .coalesce(1).write.parquet(s"$dir/src/b$b")
    val q = spark.readStream.schema("id BIGINT, pc STRING")
      .option("maxFilesPerTrigger", "1").parquet(s"$dir/src/b*")
      .writeStream.format("graft-delim")
      .option("path", t).option("partitionBy", "pc")
      .option("checkpointLocation", s"$dir/ckpt")
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val m = manifest(t)
    assert(m.segSize == 8, "streaming epochs dropped the segment policy")
    assert(m.files.size == 34, s"files=${m.files.size}")
    assert(rawPointer(t).contains("#segment\t"),
      "epoch commits past the threshold must stay segmented")
    // batch read sees everything; the streaming SOURCE replays the
    // per-generation snapshots (each a segmented index) faithfully
    assert(spark.read.format("graft-delim").schema("id BIGINT, pc STRING")
      .load(t).count() == 276L)
    val outQ = spark.readStream.format("graft-delim")
      .schema("id BIGINT, pc STRING").load(t)
      .writeStream.format("parquet")
      .option("path", s"$dir/landed")
      .option("checkpointLocation", s"$dir/ckpt2")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    outQ.awaitTermination()
    assert(spark.read.parquet(s"$dir/landed").count() == 276L)
  }

  test("the GC grace window keeps a replaced chunk breathing") {
    val t = s"${tempDir("seg-grace")}/t"
    build(t)
    val before = segFiles(t)
    val saved = sys.props("graft.segment.gc.graceMs")
    sys.props("graft.segment.gc.graceMs") = "3600000"
    try {
      Seq((777L, "p02")).toDF("id", "pc")
        .coalesce(1).write.format("graft-delim").option("partitionBy", "pc")
        .mode("append").save(t)
      // p02's replaced chunk is unreferenced but YOUNG: it survives
      // (a reader that planned on the old index can still load it)
      assert(before.subsetOf(segFiles(t)),
        s"grace window violated: ${before -- segFiles(t)} swept early")
    } finally sys.props("graft.segment.gc.graceMs") = saved
    // with the window off, the next commit sweeps it
    Seq((778L, "p02")).toDF("id", "pc")
      .coalesce(1).write.format("graft-delim").option("partitionBy", "pc")
      .mode("append").save(t)
    val referenced = rawPointer(t).linesIterator
      .filter(_.startsWith("#segment	")).map(_.split('	')(1)).toSet
    assert(segFiles(t) == referenced)
  }

  test("a table recreated at the same path never reuses a stale run memo") {
    val dir = tempDir("seg-reborn")
    val t = s"$dir/t"
    // STREAMING names are deterministic (part-<epoch>-<partition>), so
    // a rebuilt table reproduces identical entries — the exact case a
    // stale memo would vouch for segment files rmTree deleted
    def landStream(srcSub: String): Unit = {
      spark.range(0L, 64L).selectExpr("id", "'p00' as pc")
        .coalesce(1).write.parquet(s"$dir/$srcSub")
      val q = spark.readStream.schema("id BIGINT, pc STRING")
        .parquet(s"$dir/$srcSub")
        .writeStream.format("graft-delim")
        .option("path", t).option("partitionBy", "pc")
        .option("manifestSegmentSize", "2")
        .option("checkpointLocation", s"$dir/ckpt-$srcSub")
        .outputMode("append")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    landStream("src1")
    // force segmentation by appends
    for (i <- 0 until 3)
      spark.range(100L + i, 101L + i).selectExpr("id", "'p00' as pc")
        .coalesce(1).write.format("graft-delim").option("partitionBy", "pc")
        .mode("append").save(t)
    assert(rawPointer(t).contains("#segment	"))
    // WIPE the table and rebuild it identically
    graft.core.Scratch.rmTree(t)
    landStream("src2")
    for (i <- 0 until 3)
      spark.range(100L + i, 101L + i).selectExpr("id", "'p00' as pc")
        .coalesce(1).write.format("graft-delim").option("partitionBy", "pc")
        .mode("append").save(t)
    // every referenced segment must EXIST (a stale memo would have
    // skipped the re-write), and the read must see the rebuilt data
    val referenced = rawPointer(t).linesIterator
      .filter(_.startsWith("#segment	")).map(_.split('	')(1)).toSet
    referenced.foreach { n =>
      assert(fs(t).exists(new HPath(t, n)),
        s"index references a segment that is not on disk: $n")
    }
    assert(spark.read.format("graft-delim").schema("id BIGINT, pc STRING")
      .load(t).count() == 67L)
  }

  test("a concurrent claim still fails loudly on a segmented table") {
    val t = s"${tempDir("seg-race")}/t"
    build(t)
    val m = manifest(t)
    // simulate a racing committer that claimed the next generation
    DelimLog.commitManifest(fs(t), new HPath(t), m.copy(gen = m.gen + 1))
    intercept[java.util.ConcurrentModificationException] {
      DelimLog.commitManifest(fs(t), new HPath(t), m.copy(gen = m.gen + 1))
    }
  }
}
