package graft.sources.v2

import org.apache.hadoop.fs.{Path => HPath}

import graft.SparkFunSuite

/** Delta-based (merge-on-read) MERGE/UPDATE certification: matched
  * data files stay byte-identical; the commit is insert files + ONE
  * key-equality tombstone at the previous generation; reads agree
  * with the copy-on-write semantics exactly; OPTIMIZE retires the
  * debt; the wide-merge cap fails loudly.
  */
class DelimDeltaSpec extends SparkFunSuite {
  import spark.implicits._

  private def fs(t: String) =
    new HPath(t).getFileSystem(spark.sessionState.newHadoopConf())
  private def manifest(t: String) =
    DelimLog.readManifest(fs(t), new HPath(t)).get
  private def fileSet(t: String) =
    manifest(t).files.map(e => (e.rel, e.len, e.gen)).toSet

  private def mk(name: String, t: String): Unit = {
    spark.sql(s"DROP TABLE IF EXISTS graft_cat.default.$name")
    spark.sql(s"""CREATE TABLE graft_cat.default.$name
      (id BIGINT NOT NULL, v DOUBLE, pc STRING)
      USING `graft-delim` PARTITIONED BY (pc)
      OPTIONS (mergeMode 'merge-on-read', rowId 'id')
      LOCATION '$t'""")
    (1L to 100L).map(i => (i, i.toDouble, if (i % 2 == 0) "a" else "b"))
      .toDF("id", "v", "pc").coalesce(1)
      .writeTo(s"graft_cat.default.$name").append()
  }

  test("a narrow MERGE rewrites zero matched files, commits one tombstone") {
    val t = s"${tempDir("delta-merge")}/t"
    mk("dm_t", t)
    val before = fileSet(t)
    val genBefore = manifest(t).gen
    Seq((95L, 950.0), (96L, 960.0), (105L, 1050.0))
      .toDF("id", "v").createOrReplaceTempView("dm_src")
    spark.sql("""MERGE INTO graft_cat.default.dm_t t
      USING dm_src s ON t.id = s.id
      WHEN MATCHED THEN UPDATE SET v = s.v
      WHEN NOT MATCHED THEN INSERT (id, v, pc) VALUES (s.id, s.v, 'x')""")
    val m = manifest(t)
    assert(m.gen == genBefore + 1)
    // every pre-merge file byte-identical
    assert(before.subsetOf(fileSet(t)),
      s"MERGE rewrote matched files: missing ${before -- fileSet(t)}")
    // exactly one key-equality tombstone at the PREVIOUS generation
    assert(m.tombstones.size == 1 && m.tombstones.head._1 == genBefore,
      s"tombstones: ${m.tombstones}")
    val decoded = DelimV2.decodeTombstone(m.tombstones.head._2,
      spark.table("graft_cat.default.dm_t").schema)
    assert(decoded.toString.contains("In(id"))
    // content: 95/96 updated, 105 inserted, everything else untouched
    val got = spark.table("graft_cat.default.dm_t")
      .orderBy("id").collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val expect = ((1L to 100L).map(i => (i,
      if (i == 95L) 950.0 else if (i == 96L) 960.0 else i.toDouble)) :+
      (105L, 1050.0)).sortBy(_._1)
    assert(got == expect)
    assert(spark.table("graft_cat.default.dm_t").count() == 101L)
  }

  test("UPDATE routes through the delta path; OPTIMIZE retires the debt") {
    val t = s"${tempDir("delta-update")}/t"
    mk("du_t", t)
    val before = fileSet(t)
    spark.sql("UPDATE graft_cat.default.du_t SET v = v + 1000.0 WHERE id <= 3")
    val m = manifest(t)
    assert(before.subsetOf(fileSet(t)), "UPDATE must not rewrite files")
    assert(m.tombstones.size == 1)
    val got = spark.table("graft_cat.default.du_t")
      .filter($"id" <= 5).orderBy("id")
      .collect().map(_.getDouble(1)).toSeq
    assert(got == Seq(1001.0, 1002.0, 1003.0, 4.0, 5.0))
    DelimCompact.compact(spark, t, minFilesPerGroup = Int.MaxValue)
    assert(manifest(t).tombstones.isEmpty, "OPTIMIZE must retire the debt")
    assert(spark.table("graft_cat.default.du_t").count() == 100L)
    assert(spark.table("graft_cat.default.du_t")
      .filter($"id" === 2L).head.getDouble(1) == 1002.0)
  }

  test("delta insert files carry the table's bloom sidecars") {
    val t = s"${tempDir("delta-bloom")}/t"
    spark.sql(s"DROP TABLE IF EXISTS graft_cat.default.db_t")
    spark.sql(s"""CREATE TABLE graft_cat.default.db_t
      (id BIGINT NOT NULL, v DOUBLE)
      USING `graft-delim`
      OPTIONS (mergeMode 'merge-on-read', rowId 'id', bloomFor 'id')
      LOCATION '$t'""")
    (1L to 100L).map(i => (i, i.toDouble)).toDF("id", "v")
      .coalesce(1).writeTo("graft_cat.default.db_t").append()
    spark.sql("UPDATE graft_cat.default.db_t SET v = 0.0 WHERE id = 7")
    val m = manifest(t)
    val deltaFiles = m.files.filter(_.gen == m.gen)
    assert(deltaFiles.nonEmpty)
    deltaFiles.foreach { e =>
      val p = new HPath(t, e.rel)
      assert(fs(t).exists(new HPath(t, e.rel + DelimBloom.Suffix)),
        s"delta file ${e.rel} missing its bloom sidecar")
      assert(DelimBloom.fileSkips(fs(t), p, Seq(("id", Seq("999999")))),
        "delta sidecar must prove an absent key away")
    }
    assert(spark.table("graft_cat.default.db_t")
      .filter($"id" === 7L).head.getDouble(1) == 0.0)
  }

  test("a non-pushable DELETE routes delta: tombstone only, no new files") {
    val t = s"${tempDir("delta-del")}/t"
    mk("dd_t", t)
    val before = fileSet(t)
    // v + v is not a pushable filter shape: SupportsDelete declines,
    // the rewrite plans WriteDelta, and the commit is deletes-only —
    // zero insert files, one key-equality tombstone
    spark.sql("DELETE FROM graft_cat.default.dd_t WHERE v + v > 190.0")
    val m = manifest(t)
    assert(fileSet(t) == before,
      "a delta DELETE must land no files and rewrite none")
    assert(m.tombstones.size == 1 && m.tombstones.head._2.startsWith("in:"))
    assert(spark.table("graft_cat.default.dd_t").count() == 95L)
    assert(spark.table("graft_cat.default.dd_t")
      .agg(org.apache.spark.sql.functions.max($"v")).head.getDouble(0) == 95.0)
    // a deletes-only commit records NO generation schema (its write
    // schema is empty) — the previous schema stays latest, so
    // retirement can still resolve the rowId column and repay the debt
    assert(!m.schemas.contains(m.gen),
      "a deletes-only delta must not poison the schema lineage")
    DelimCompact.compact(spark, t, minFilesPerGroup = Int.MaxValue)
    assert(manifest(t).tombstones.isEmpty,
      "OPTIMIZE must retire a delta DELETE's tombstone")
    assert(spark.table("graft_cat.default.dd_t").count() == 95L)
  }

  test("a wide MERGE past deltaMaxKeys fails loudly") {
    val t = s"${tempDir("delta-wide")}/t"
    spark.sql(s"DROP TABLE IF EXISTS graft_cat.default.dw_t")
    spark.sql(s"""CREATE TABLE graft_cat.default.dw_t
      (id BIGINT NOT NULL, v DOUBLE)
      USING `graft-delim`
      OPTIONS (mergeMode 'merge-on-read', rowId 'id', deltaMaxKeys '10')
      LOCATION '$t'""")
    (1L to 100L).map(i => (i, i.toDouble)).toDF("id", "v")
      .writeTo("graft_cat.default.dw_t").append()
    val e = intercept[Exception] {
      spark.sql("UPDATE graft_cat.default.dw_t SET v = 0.0 WHERE id <= 50")
    }
    val msg = e.getMessage +
      Option(e.getCause).map(_.getMessage).getOrElse("")
    assert(msg.contains("deltaMaxKeys"), s"unexpected: $e")
    // and the table is unharmed
    assert(spark.table("graft_cat.default.dw_t").count() == 100L)
    assert(manifest(t).tombstones.isEmpty)
  }
}
