package graft.sources

import org.apache.hadoop.fs.{Path => HPath}

import graft.SparkFunSuite
import graft.sources.v2.DelimLog

/** Certifies SQL row-level operations (MERGE INTO / UPDATE / DELETE)
  * against graft-delim catalog tables via the group-based copy-on-write
  * operation (sources/v2/DelimRowLevel): correct upsert semantics, the
  * partition-scoped rewrite (an untouched partition's FILE survives
  * byte-identical — the Warehouse.mergeByKey discipline through SQL),
  * and the manifest-generation commit.
  */
class DelimMergeSpec extends SparkFunSuite {
  import spark.implicits._

  private def fileOf(t: String, sub: String): Seq[(String, Long)] =
    new java.io.File(s"$t/$sub").listFiles()
      .filter(f => f.isFile && !f.getName.startsWith("."))
      .map(f => (f.getName, f.length())).toSeq.sortBy(_._1)

  test("MERGE INTO upserts through SQL; untouched partitions' files survive") {
    val dir = tempDir("delim-merge")
    val t = s"$dir/t"
    spark.sql("DROP TABLE IF EXISTS graft_cat.default.merge_t")
    spark.sql(s"""CREATE TABLE graft_cat.default.merge_t
      (id BIGINT, v DOUBLE, pc STRING)
      USING `graft-delim` PARTITIONED BY (pc) LOCATION '$t'""")
    Seq((1L, 1.0, "a"), (2L, 2.0, "a"), (3L, 3.0, "b"), (4L, 4.0, "c"))
      .toDF("id", "v", "pc")
      .writeTo("graft_cat.default.merge_t").append()
    val calmBefore = fileOf(t, "pc=c")
    val genBefore = DelimLog.readManifest(
      new HPath(t).getFileSystem(spark.sessionState.newHadoopConf()),
      new HPath(t)).get.gen
    Seq((2L, 20.0, "a"), (5L, 50.0, "b")).toDF("id", "v", "pc")
      .createOrReplaceTempView("merge_delta")
    spark.sql("""MERGE INTO graft_cat.default.merge_t t
      USING merge_delta d ON t.id = d.id AND t.pc = d.pc
      WHEN MATCHED THEN UPDATE SET *
      WHEN NOT MATCHED THEN INSERT *""")
    val got = spark.sql(
      "SELECT id, v, pc FROM graft_cat.default.merge_t ORDER BY id")
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getString(2)))
    assert(got.toSeq == Seq((1L, 1.0, "a"), (2L, 20.0, "a"), (3L, 3.0, "b"),
      (4L, 4.0, "c"), (5L, 50.0, "b")))
    // the commit went through the generation protocol
    val m = DelimLog.readManifest(
      new HPath(t).getFileSystem(spark.sessionState.newHadoopConf()),
      new HPath(t)).get
    assert(m.gen == genBefore + 1)
    // partition-scoped copy-on-write: pc=c was matched by no clause and,
    // with runtime group filtering, its file must survive byte-identical
    assert(fileOf(t, "pc=c") == calmBefore,
      "MERGE rewrote an untouched partition's file")
    spark.sql("DROP TABLE graft_cat.default.merge_t")
  }

  test("MERGE clause variants: conditional UPDATE, matched DELETE, NOT MATCHED BY SOURCE") {
    val dir = tempDir("delim-merge-clauses")
    val t = s"$dir/t"
    spark.sql("DROP TABLE IF EXISTS graft_cat.default.mc_t")
    spark.sql(s"""CREATE TABLE graft_cat.default.mc_t
      (id BIGINT, v DOUBLE) USING `graft-delim` LOCATION '$t'""")
    Seq((1L, 1.0), (2L, 2.0), (3L, 3.0), (4L, 4.0)).toDF("id", "v")
      .writeTo("graft_cat.default.mc_t").append()
    Seq((1L, 10.0), (2L, -1.0), (5L, 50.0)).toDF("id", "v")
      .createOrReplaceTempView("mc_delta")
    // matched + cond → update; matched + negative → delete;
    // not matched → insert; not matched by source and id > 3 → delete
    spark.sql("""MERGE INTO graft_cat.default.mc_t t
      USING mc_delta d ON t.id = d.id
      WHEN MATCHED AND d.v >= 0 THEN UPDATE SET t.v = d.v
      WHEN MATCHED THEN DELETE
      WHEN NOT MATCHED THEN INSERT *
      WHEN NOT MATCHED BY SOURCE AND t.id > 3 THEN DELETE""")
    val got = spark.sql("SELECT id, v FROM graft_cat.default.mc_t ORDER BY id")
      .collect().map(r => (r.getLong(0), r.getDouble(1)))
    assert(got.toSeq == Seq((1L, 10.0), (3L, 3.0), (5L, 50.0)), got.toSeq)
    spark.sql("DROP TABLE graft_cat.default.mc_t")
  }

  test("UPDATE and DELETE run as copy-on-write row-level SQL") {
    val dir = tempDir("delim-updel")
    val t = s"$dir/t"
    spark.sql("DROP TABLE IF EXISTS graft_cat.default.updel_t")
    spark.sql(s"""CREATE TABLE graft_cat.default.updel_t
      (id BIGINT, v DOUBLE, pc STRING)
      USING `graft-delim` PARTITIONED BY (pc) LOCATION '$t'""")
    Seq((1L, 1.0, "a"), (2L, 2.0, "a"), (3L, 3.0, "b"))
      .toDF("id", "v", "pc")
      .writeTo("graft_cat.default.updel_t").append()
    spark.sql(
      "UPDATE graft_cat.default.updel_t SET v = v * 10 WHERE pc = 'a'")
    spark.sql("DELETE FROM graft_cat.default.updel_t WHERE id = 2")
    val got = spark.sql(
      "SELECT id, v FROM graft_cat.default.updel_t ORDER BY id")
      .collect().map(r => (r.getLong(0), r.getDouble(1)))
    assert(got.toSeq == Seq((1L, 10.0), (3L, 3.0)))
    spark.sql("DROP TABLE graft_cat.default.updel_t")
  }
}
