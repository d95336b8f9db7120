package graft.sources

import org.apache.hadoop.fs.{Path => HPath}

import graft.SparkFunSuite
import graft.sources.v2.{DelimCompact, DelimLog}

/** Merge-on-read DELETE corner cases the oracle query cannot reach:
  * the exact rows a tombstoned table reads, tombstone interaction
  * with copy-on-write rewrites, compaction's tombstone-boundary
  * grouping, the loud-failure contract for unapplicable tombstones,
  * fresh streaming reads of tombstoned tables, and TRUNCATE.
  */
class DelimMorSpec extends SparkFunSuite {
  import spark.implicits._

  private def fs(t: String) =
    new HPath(t).getFileSystem(spark.sessionState.newHadoopConf())
  private def manifest(t: String) =
    DelimLog.readManifest(fs(t), new HPath(t)).get

  private def mkTable(name: String, t: String): Unit = {
    spark.sql(s"DROP TABLE IF EXISTS graft_cat.default.$name")
    spark.sql(s"""CREATE TABLE graft_cat.default.$name
      (id BIGINT, v DOUBLE, pc STRING)
      USING `graft-delim` PARTITIONED BY (pc) LOCATION '$t'""")
  }

  test("tombstoned table reads identically through columnar and row paths") {
    val t = s"${tempDir("mor-paths")}/t"
    mkTable("mor_paths", t)
    (1L to 100L).map(i => (i, i.toDouble, if (i % 2 == 0) "a" else "b"))
      .toDF("id", "v", "pc").writeTo("graft_cat.default.mor_paths").append()
    spark.sql("DELETE FROM graft_cat.default.mor_paths WHERE v > 90.0")
    assert(manifest(t).tombstones.size == 1)
    val got = spark.read.format("graft-delim")
      .schema("id BIGINT, v DOUBLE, pc STRING")
      .load(t).orderBy("id").collect().toSeq
      .map(r => (r.getLong(0), r.getDouble(1), r.getString(2)))
    assert(got == (1L to 90L).map(i =>
      (i, i.toDouble, if (i % 2 == 0) "a" else "b")))
  }

  test("copy-on-write UPDATE on a tombstoned table applies the tombstone") {
    val t = s"${tempDir("mor-cow")}/t"
    mkTable("mor_cow", t)
    (1L to 20L).map(i => (i, i.toDouble, "a"))
      .toDF("id", "v", "pc").writeTo("graft_cat.default.mor_cow").append()
    spark.sql("DELETE FROM graft_cat.default.mor_cow WHERE id >= 15")
    // the CoW rewrite's scan must apply the tombstone, so the
    // rewritten file excludes the deleted rows — and the rewritten
    // generation is newer than the tombstone, so nothing re-deletes
    spark.sql("UPDATE graft_cat.default.mor_cow SET v = v + 100.0 WHERE id <= 5")
    val got = spark.sql(
      "SELECT id, v FROM graft_cat.default.mor_cow ORDER BY id")
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(got == (1L to 14L).map(i =>
      (i, if (i <= 5) i + 100.0 else i.toDouble)))
    // updated rows (v now > 100) match nothing: the tombstone was on id
    assert(got.count(_._2 > 100.0) == 5)
  }

  test("compaction retires tombstones; post-delete files byte-concat apart") {
    val t = s"${tempDir("mor-compact")}/t"
    mkTable("mor_compact", t)
    def land(lo: Long, hi: Long): Unit =
      (lo to hi).map(i => (i, i.toDouble, "a"))
        .toDF("id", "v", "pc").writeTo("graft_cat.default.mor_compact").append()
    land(1, 10); land(11, 20) // gens 1, 2
    spark.sql("DELETE FROM graft_cat.default.mor_compact WHERE id = 5") // gen 3 tombstone
    land(21, 30); land(31, 40) // gens 4, 5: NOT subject to the tombstone
    val beforeGens = manifest(t).files.map(_.gen).toSet
    assert(beforeGens == Set(1L, 2L, 4L, 5L))
    DelimCompact.compact(spark, t)
    val after = manifest(t)
    // two rewrite pipelines, one output each: {gen1,gen2} went through
    // the PARSE path (tombstone complement applied, landed as the new
    // generation 6 — row 5 physically gone, debt retired); {gen4,gen5}
    // byte-concatenated under their representative gen 5
    assert(after.files.size == 2,
      s"expected 2 compacted files, got ${after.files.map(_.rel)}")
    assert(after.files.map(_.gen).toSet == Set(5L, 6L))
    assert(after.tombstones.isEmpty,
      "compaction must retire a fully-satisfied tombstone")
    val ids = spark.read.format("graft-delim")
      .schema("id BIGINT, v DOUBLE, pc STRING")
      .load(t).select("id").as[Long].collect().sorted.toSeq
    assert(ids == ((1L to 40L).filterNot(_ == 5L)))
  }

  test("a tombstone the read schema cannot apply fails loudly") {
    val t = s"${tempDir("mor-loud")}/t"
    mkTable("mor_loud", t)
    Seq((1L, 1.0, "a")).toDF("id", "v", "pc")
      .writeTo("graft_cat.default.mor_loud").append()
    spark.sql("DELETE FROM graft_cat.default.mor_loud WHERE v > 0.5")
    val e = intercept[Exception] {
      spark.read.format("graft-delim")
        .schema("id BIGINT") // no `v`: the delete cannot be applied
        .load(t).collect()
    }
    val msg = Option(e.getMessage).getOrElse("") +
      Option(e.getCause).flatMap(c => Option(c.getMessage)).getOrElse("")
    assert(msg.contains("tombstone"), s"unexpected error: $e")
  }

  test("a fresh streaming read honors tombstones") {
    val dir = tempDir("mor-stream")
    val t = s"$dir/t"
    mkTable("mor_stream", t)
    (1L to 50L).map(i => (i, i.toDouble, "a"))
      .toDF("id", "v", "pc").writeTo("graft_cat.default.mor_stream").append()
    spark.sql("DELETE FROM graft_cat.default.mor_stream WHERE id > 40")
    val q = spark.readStream.format("graft-delim")
      .schema("id BIGINT, v DOUBLE, pc STRING")
      .load(t)
      .writeStream.format("parquet")
      .option("path", s"$dir/landed")
      .option("checkpointLocation", s"$dir/ckpt")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val ids = spark.read.parquet(s"$dir/landed")
      .select("id").as[Long].collect().sorted.toSeq
    assert(ids == (1L to 40L))
  }

  test("OPTIMIZE retires tombstones; retired files keep bloom sidecars") {
    val t = s"${tempDir("mor-retire")}/t"
    // bloomed, quoted, schema'd table written by path (delimiter '|')
    spark.range(1L, 201L)
      .selectExpr("id", "cast(id * 1.5 as double) as v",
        "case when id % 2 = 0 then 'a' else 'b' end as pc")
      .coalesce(1).write.format("graft-delim")
      .option("partitionBy", "pc").option("bloomFor", "id")
      .mode("overwrite").save(t)
    spark.sql("DROP TABLE IF EXISTS graft_cat.default.mor_retire")
    spark.sql(s"""CREATE TABLE graft_cat.default.mor_retire
      (id BIGINT, v DOUBLE, pc STRING)
      USING `graft-delim` PARTITIONED BY (pc)
      OPTIONS (bloomFor 'id') LOCATION '$t'""")
    spark.sql("DELETE FROM graft_cat.default.mor_retire WHERE v > 270.0")
    assert(manifest(t).tombstones.size == 1)
    graft.sources.v2.DelimCompact.compact(spark, t,
      minFilesPerGroup = Int.MaxValue)
    val m = manifest(t)
    assert(m.tombstones.isEmpty, "tombstone not retired")
    // every retired file carries an OR... a freshly built sidecar: an
    // absent key still skips, a surviving key keeps
    import graft.sources.v2.DelimBloom
    m.files.foreach { e =>
      val p = new HPath(t, e.rel)
      assert(fs(t).exists(new HPath(t, e.rel + DelimBloom.Suffix)),
        s"retired file ${e.rel} lost its bloom sidecar")
      assert(DelimBloom.fileSkips(fs(t), p, Seq(("id", Seq("999999")))),
        s"retired sidecar on ${e.rel} does not skip an absent key")
    }
    // deleted rows physically gone; survivors intact
    val df = spark.read.format("graft-delim")
      .schema("id BIGINT, v DOUBLE, pc STRING").load(t)
    assert(df.count() == 180L)
    assert(df.agg(org.apache.spark.sql.functions.max($"v")).head.getDouble(0)
      == 270.0)
    assert(df.filter($"id" === 150L).count() == 1L)
  }

  test("TRUNCATE TABLE commits an empty snapshot through the manifest") {
    val t = s"${tempDir("mor-trunc")}/t"
    mkTable("mor_trunc", t)
    (1L to 10L).map(i => (i, i.toDouble, "a"))
      .toDF("id", "v", "pc").writeTo("graft_cat.default.mor_trunc").append()
    val genBefore = manifest(t).gen
    spark.sql("TRUNCATE TABLE graft_cat.default.mor_trunc")
    val m = manifest(t)
    assert(m.files.isEmpty && m.gen == genBefore + 1)
    assert(spark.sql("SELECT * FROM graft_cat.default.mor_trunc").count() == 0)
  }
}
