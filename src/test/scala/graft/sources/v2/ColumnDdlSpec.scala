package graft.sources.v2

import org.apache.hadoop.fs.{Path => HPath}

import graft.SparkFunSuite

/** RENAME/DROP COLUMN guard rails the oracle query cannot reach:
  * partition columns reject both (the k=v layout carries the name on
  * disk), a live tombstone referencing the column demands OPTIMIZE
  * first, and data-skipping stats keep pruning through a rename (the
  * recorded write-time stat keys translate through the field IDs).
  */
class ColumnDdlSpec extends SparkFunSuite {
  import spark.implicits._

  private def fs(t: String) =
    new HPath(t).getFileSystem(spark.sessionState.newHadoopConf())

  test("partition columns reject RENAME and DROP") {
    val t = s"${tempDir("ddl-part")}/t"
    spark.sql("DROP TABLE IF EXISTS graft_cat.default.ddl_part")
    spark.sql(s"""CREATE TABLE graft_cat.default.ddl_part
      (id BIGINT, pc STRING) USING `graft-delim`
      PARTITIONED BY (pc) LOCATION '$t'""")
    Seq((1L, "a")).toDF("id", "pc")
      .writeTo("graft_cat.default.ddl_part").append()
    val e1 = intercept[Exception] {
      spark.sql("ALTER TABLE graft_cat.default.ddl_part RENAME COLUMN pc TO q")
    }
    assert((e1.getMessage + Option(e1.getCause).map(_.getMessage).getOrElse(""))
      .contains("partition column"))
    val e2 = intercept[Exception] {
      spark.sql("ALTER TABLE graft_cat.default.ddl_part DROP COLUMN pc")
    }
    assert((e2.getMessage + Option(e2.getCause).map(_.getMessage).getOrElse(""))
      .contains("partition column"))
  }

  test("a live tombstone on the column demands OPTIMIZE first") {
    val t = s"${tempDir("ddl-tomb")}/t"
    spark.sql("DROP TABLE IF EXISTS graft_cat.default.ddl_tomb")
    spark.sql(s"""CREATE TABLE graft_cat.default.ddl_tomb
      (id BIGINT, v DOUBLE) USING `graft-delim` LOCATION '$t'""")
    (1L to 20L).map(i => (i, i.toDouble)).toDF("id", "v")
      .writeTo("graft_cat.default.ddl_tomb").append()
    spark.sql("DELETE FROM graft_cat.default.ddl_tomb WHERE v > 15.0")
    val e = intercept[Exception] {
      spark.sql("ALTER TABLE graft_cat.default.ddl_tomb RENAME COLUMN v TO w")
    }
    assert((e.getMessage + Option(e.getCause).map(_.getMessage).getOrElse(""))
      .contains("tombstone"))
    // retire the debt, then the rename goes through and reads work
    DelimCompact.compact(spark, t, minFilesPerGroup = Int.MaxValue)
    spark.sql("ALTER TABLE graft_cat.default.ddl_tomb RENAME COLUMN v TO w")
    val got = spark.sql(
      "SELECT count(*), sum(w) FROM graft_cat.default.ddl_tomb").collect()(0)
    assert(got.getLong(0) == 15L && got.getDouble(1) == (1 to 15).sum.toDouble)
  }

  test("tombstone retirement translates renamed columns (no silent nulls)") {
    val t = s"${tempDir("ddl-retire")}/t"
    spark.sql("DROP TABLE IF EXISTS graft_cat.default.ddl_retire")
    spark.sql(s"""CREATE TABLE graft_cat.default.ddl_retire
      (id BIGINT, v DOUBLE, s STRING) USING `graft-delim` LOCATION '$t'""")
    (1L to 20L).map(i => (i, i.toDouble, s"name$i")).toDF("id", "v", "s")
      .coalesce(1).writeTo("graft_cat.default.ddl_retire").append()
    spark.sql("DELETE FROM graft_cat.default.ddl_retire WHERE v > 15.0")
    // renaming a column the tombstone does NOT reference is allowed —
    // the retirement rewrite must then resolve the renamed column
    // through its field ID, not null it out
    spark.sql("ALTER TABLE graft_cat.default.ddl_retire RENAME COLUMN s TO label")
    DelimCompact.compact(spark, t, minFilesPerGroup = Int.MaxValue)
    val m = DelimLog.readManifest(fs(t), new HPath(t)).get
    assert(m.tombstones.isEmpty)
    val got = spark.sql("SELECT id, label FROM graft_cat.default.ddl_retire ORDER BY id")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(got == (1L to 15L).map(i => (i, s"name$i")),
      s"retirement nulled or lost the renamed column: ${got.take(3)}")
  }

  test("stats skipping survives a rename (translated stat keys)") {
    val t = s"${tempDir("ddl-stats")}/t"
    spark.sql("DROP TABLE IF EXISTS graft_cat.default.ddl_stats")
    spark.sql(s"""CREATE TABLE graft_cat.default.ddl_stats
      (id BIGINT, v DOUBLE) USING `graft-delim` LOCATION '$t'""")
    // 4 sorted files with disjoint id ranges: an equality probe under
    // the NEW name must still prune to one file via the OLD-name stats
    for (b <- 0 until 4)
      (b * 100L until (b + 1) * 100L).map(i => (i, i * 1.5)).toDF("id", "v")
        .coalesce(1).writeTo("graft_cat.default.ddl_stats").append()
    spark.sql("ALTER TABLE graft_cat.default.ddl_stats RENAME COLUMN id TO key")
    val hp = new HPath(t)
    val m = DelimLog.readManifest(fs(t), hp).get
    assert(m.files.size == 4)
    val df = spark.table("graft_cat.default.ddl_stats")
    assert(df.filter($"key" === 150L).count() == 1L)
    // mechanism pin: translated stats still carry bounds under `key`
    val listed = DelimV2.listedFromManifest(hp, m)
    assert(listed.forall(f => f.stats != null && f.stats.cols.contains("key")),
      "stat keys must translate to the current name")
    assert(listed.forall(f => !f.stats.cols.contains("id")))
  }
}
