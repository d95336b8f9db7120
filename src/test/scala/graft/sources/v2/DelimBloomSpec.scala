package graft.sources.v2

import org.apache.hadoop.fs.{Path => HPath}

import graft.SparkFunSuite

/** Bloom sidecar certification: equality skipping on unclustered
  * columns — the sidecar mechanism itself (fileSkips verdicts per
  * file), reader correctness through the gate,
  * manifest header carriage, compaction interplay (a compacted file
  * has no sidecar and simply cannot skip), and overwrite cleanup.
  */
class DelimBloomSpec extends SparkFunSuite {
  import spark.implicits._

  private def fs(t: String) =
    new HPath(t).getFileSystem(spark.sessionState.newHadoopConf())

  private def mk(t: String, n: Long = 2000L, files: Int = 8): Unit = {
    // ids SHUFFLED across files (hash repartition): every file's
    // [min,max] spans nearly the whole domain, so min/max stats CANNOT
    // prune an equality probe — exactly the gap blooms close
    spark.range(1L, n + 1L).select($"id", ($"id" * 1.5).as("v"))
      .repartition(files)
      .write.format("graft-delim")
      .option("bloomFor", "id")
      .mode("overwrite").save(t)
  }

  test("sidecars land beside every data file and the header records the column") {
    val t = s"${tempDir("bloom-land")}/t"
    mk(t)
    val m = DelimLog.readManifest(fs(t), new HPath(t)).get
    assert(m.bloomCols == Seq("id"))
    m.files.foreach { e =>
      assert(fs(t).exists(new HPath(t, e.rel + DelimBloom.Suffix)),
        s"missing sidecar for ${e.rel}")
      assert(!e.rel.endsWith(DelimBloom.Suffix)) // never a manifest entry
    }
  }

  test("an absent key's probe skips every file; a present key's keeps its file") {
    val t = s"${tempDir("bloom-skip")}/t"
    mk(t)
    val m = DelimLog.readManifest(fs(t), new HPath(t)).get
    def skips(key: Long): Int = m.files.count { e =>
      DelimBloom.fileSkips(fs(t), new HPath(t, e.rel),
        Seq(("id", Seq(key.toString))))
    }
    assert(skips(999999L) >= m.files.size - 1, // <=1 false positive in 8
      s"absent key skipped only ${skips(999999L)} of ${m.files.size}")
    assert(skips(1000L) < m.files.size,
      "the file holding key 1000 must not skip")
  }

  test("equality reads stay correct through the bloom gate on both paths") {
    val t = s"${tempDir("bloom-read")}/t"
    mk(t)
    val df = spark.read.format("graft-delim")
      .schema("id BIGINT, v DOUBLE").load(t)
    assert(df.filter($"id" === 1000L).collect().map(_.getDouble(1)).toSeq
      == Seq(1500.0))
    assert(df.filter($"id" === 999999L).count() == 0L)
    assert(df.filter($"id".isin(7L, 999999L, 1234L)).count() == 2L)
  }

  test("the reader GATE fires before the data file is opened") {
    val t = s"${tempDir("bloom-gate")}/t"
    spark.range(1L, 101L).select($"id", ($"id" * 1.5).as("v"))
      .coalesce(1)
      .write.format("graft-delim").option("bloomFor", "id")
      .mode("overwrite").save(t)
    val m = DelimLog.readManifest(fs(t), new HPath(t)).get
    assert(m.files.size == 1)
    // delete the DATA bytes, keep manifest + sidecar: a gated read of
    // an absent key returns empty without ever opening the file; an
    // ungated read (present key) must fail on the missing bytes
    fs(t).delete(new HPath(t, m.files.head.rel), false)
    val df = spark.read.format("graft-delim")
      .schema("id BIGINT, v DOUBLE").load(t)
    assert(df.filter($"id" === 999999L).count() == 0L,
      "absent-key probe must skip without touching the data file")
    intercept[Exception] { df.filter($"id" === 50L).count() }
  }

  test("compaction OR-merges member sidecars; the compacted file still skips") {
    val t = s"${tempDir("bloom-compact")}/t"
    mk(t)
    DelimCompact.compact(spark, t)
    val m = DelimLog.readManifest(fs(t), new HPath(t)).get
    assert(m.files.size == 1 && m.bloomCols == Seq("id"))
    // the merged sidecar rides the compacted file: OR of the members'
    // bitsets (fixed geometry), so an absent-key probe STILL skips and
    // a present-key probe still keeps
    val cf = new HPath(t, m.files.head.rel)
    assert(fs(t).exists(new HPath(t, m.files.head.rel + DelimBloom.Suffix)),
      "compaction must carry the members' blooms forward")
    assert(DelimBloom.fileSkips(fs(t), cf, Seq(("id", Seq("999999")))),
      "merged sidecar must prove the absent key away")
    assert(!DelimBloom.fileSkips(fs(t), cf, Seq(("id", Seq("1000")))),
      "merged sidecar must keep a present key")
    // the replaced members' sidecars died with them
    val leftover = m.files.map(_.rel).toSet
    val onDisk = fs(t).listStatus(new HPath(t))
      .map(_.getPath.getName).filter(_.endsWith(DelimBloom.Suffix)).toSeq
    assert(onDisk == Seq(m.files.head.rel + DelimBloom.Suffix),
      s"stale sidecars: ${onDisk.filterNot(n => leftover.contains(
        n.stripSuffix(DelimBloom.Suffix)))}")
    val df = spark.read.format("graft-delim").schema("id BIGINT, v DOUBLE").load(t)
    assert(df.filter($"id" === 1000L).count() == 1L)
    assert(df.filter($"id" === 999999L).count() == 0L)
    assert(df.count() == 2000L)
  }

  test("OR-merge declines when a member lacks a sidecar") {
    val t = s"${tempDir("bloom-partial")}/t"
    // gen 1 bloomed, gen 2 appended WITHOUT bloomFor: the group's
    // merge must decline (a merged id-bloom would falsely skip the
    // unbloomed member's keys) — compacted file carries no sidecar
    spark.range(1L, 101L).select($"id", ($"id" * 1.5).as("v"))
      .coalesce(1).write.format("graft-delim")
      .option("bloomFor", "id").mode("overwrite").save(t)
    spark.range(101L, 201L).select($"id", ($"id" * 1.5).as("v"))
      .coalesce(1).write.format("graft-delim").mode("append").save(t)
    DelimCompact.compact(spark, t)
    val m = DelimLog.readManifest(fs(t), new HPath(t)).get
    assert(m.files.size == 1)
    assert(!fs(t).exists(new HPath(t, m.files.head.rel + DelimBloom.Suffix)),
      "a partial group must not merge a lying sidecar")
    val df = spark.read.format("graft-delim").schema("id BIGINT, v DOUBLE").load(t)
    assert(df.filter($"id" === 150L).count() == 1L)
    assert(df.count() == 200L)
  }

  test("a static overwrite without bloomFor clears the header and the sidecars") {
    val t = s"${tempDir("bloom-clear")}/t"
    mk(t)
    spark.range(1L, 11L).select($"id", ($"id" * 1.0).as("v"))
      .write.format("graft-delim").mode("overwrite").save(t)
    val m = DelimLog.readManifest(fs(t), new HPath(t)).get
    assert(m.bloomCols.isEmpty)
    val leftover = fs(t).listStatus(new HPath(t))
      .map(_.getPath.getName).filter(_.endsWith(DelimBloom.Suffix))
    assert(leftover.isEmpty, s"swept overwrite left sidecars: ${leftover.toSeq}")
  }
}
