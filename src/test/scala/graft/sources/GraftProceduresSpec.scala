package graft.sources

import org.apache.hadoop.fs.{Path => HPath}

import graft.SparkFunSuite
import graft.sources.v2.DelimLog

/** SQL `CALL graft_cat.system.*` maintenance procedures: compaction,
  * snapshot expiry, and manifest recovery through Spark 4's connector
  * procedure API.
  */
class GraftProceduresSpec extends SparkFunSuite {
  import spark.implicits._

  private def fs(t: String) =
    new HPath(t).getFileSystem(spark.sessionState.newHadoopConf())
  private def manifest(t: String) =
    DelimLog.readManifest(fs(t), new HPath(t)).get

  test("CALL system.optimize compacts through SQL and reports the file counts") {
    val t = s"${tempDir("proc-opt")}/t"
    spark.sql("DROP TABLE IF EXISTS graft_cat.default.proc_opt")
    spark.sql(s"""CREATE TABLE graft_cat.default.proc_opt
      (id BIGINT, v DOUBLE) USING `graft-delim` LOCATION '$t'""")
    for (_ <- 1 to 4)
      (1L to 50L).map(i => (i, i.toDouble)).toDF("id", "v")
        .coalesce(1).writeTo("graft_cat.default.proc_opt").append()
    assert(manifest(t).files.size == 4)
    val r = spark.sql(
      "CALL graft_cat.system.optimize(table => 'default.proc_opt')")
      .collect()(0)
    assert(r.getInt(1) == 4 && r.getInt(2) == 1) // files before/after
    assert(manifest(t).files.size == 1 && manifest(t).gen == r.getLong(0))
    assert(spark.sql("SELECT count(*) FROM graft_cat.default.proc_opt")
      .collect()(0).getLong(0) == 200L)
  }

  test("CALL system.optimize honors target_file_size bins") {
    val t = s"${tempDir("proc-optb")}/t"
    spark.sql("DROP TABLE IF EXISTS graft_cat.default.proc_optb")
    spark.sql(s"""CREATE TABLE graft_cat.default.proc_optb
      (id BIGINT, v DOUBLE) USING `graft-delim` LOCATION '$t'""")
    for (_ <- 1 to 6)
      (1L to 50L).map(i => (i, i.toDouble)).toDF("id", "v")
        .coalesce(1).writeTo("graft_cat.default.proc_optb").append()
    val sizes = manifest(t).files.map(_.len)
    val target = sizes.sum * 5 / (sizes.size * 2) // ~2.5 files per bin
    val r = spark.sql("CALL graft_cat.system.optimize(" +
      s"table => 'default.proc_optb', target_file_size => ${target}L)")
      .collect()(0)
    assert(r.getInt(2) == 3, s"expected 3 bins of 2, got ${r.getInt(2)}")
  }

  test("CALL system.expire_snapshots tightens retention and sweeps files") {
    val t = s"${tempDir("proc-exp")}/t"
    spark.sql("DROP TABLE IF EXISTS graft_cat.default.proc_exp")
    spark.sql(s"""CREATE TABLE graft_cat.default.proc_exp
      (id BIGINT, v DOUBLE)
      USING `graft-delim` OPTIONS (retainVersions '3') LOCATION '$t'""")
    (1L to 10L).map(i => (i, i.toDouble)).toDF("id", "v")
      .coalesce(1).writeTo("graft_cat.default.proc_exp").append()
    (1L to 10L).map(i => (i, i.toDouble)).toDF("id", "v")
      .coalesce(1).write.format("graft-delim")
      .option("retainVersions", "3").mode("overwrite").save(t)
    // versionAsOf 1 readable inside the window
    assert(spark.read.format("graft-delim").option("versionAsOf", "1")
      .schema("id BIGINT, v DOUBLE").load(t).count() == 10L)
    val r = spark.sql("CALL graft_cat.system.expire_snapshots(" +
      "table => 'default.proc_exp', retain => 1)").collect()(0)
    assert(r.getInt(1) == 1 && r.getLong(2) >= 1L,
      s"expected swept files, got $r")
    // the expired snapshot is gone, the live one intact
    val e = intercept[Exception] {
      spark.read.format("graft-delim").option("versionAsOf", "1")
        .schema("id BIGINT, v DOUBLE").load(t).count()
    }
    assert(e.getMessage.contains("not retained"))
    assert(spark.sql("SELECT count(*) FROM graft_cat.default.proc_exp")
      .collect()(0).getLong(0) == 10L)
  }

  test("CALL system.recover_manifest is a null no-op on a healthy table") {
    val t = s"${tempDir("proc-rec")}/t"
    spark.sql("DROP TABLE IF EXISTS graft_cat.default.proc_rec")
    spark.sql(s"""CREATE TABLE graft_cat.default.proc_rec
      (id BIGINT, v DOUBLE) USING `graft-delim` LOCATION '$t'""")
    (1L to 5L).map(i => (i, i.toDouble)).toDF("id", "v")
      .writeTo("graft_cat.default.proc_rec").append()
    val r = spark.sql(
      "CALL graft_cat.system.recover_manifest(table => 'default.proc_rec')")
      .collect()(0)
    assert(r.isNullAt(0))
  }

  test("unknown procedure and wrong namespace fail loudly") {
    val e1 = intercept[Exception] {
      spark.sql("CALL graft_cat.system.nope(table => 't')").collect()
    }
    // Spark wraps the catalog's loud error as FAILED_TO_LOAD_ROUTINE
    assert(e1.getMessage.contains("FAILED_TO_LOAD_ROUTINE") ||
      e1.getMessage.contains("unknown procedure"))
  }
  test("CALL optimize retires tombstones under the TABLE's delimiter") {
    val t = s"${tempDir("proc-delim")}/t"
    spark.sql("DROP TABLE IF EXISTS graft_cat.default.proc_delim")
    spark.sql(s"""CREATE TABLE graft_cat.default.proc_delim
      (id BIGINT, v DOUBLE, s STRING)
      USING `graft-delim` OPTIONS (delimiter ',') LOCATION '$t'""")
    import spark.implicits._
    (1L to 20L).map(i => (i, i.toDouble, s"txt$i")).toDF("id", "v", "s")
      .coalesce(1).writeTo("graft_cat.default.proc_delim").append()
    spark.sql("DELETE FROM graft_cat.default.proc_delim WHERE v > 15.0")
    // the retirement rewrite PARSES rows: running it under the default
    // '|' would re-land garbage — the procedure must pass the table's
    // ',' through
    spark.sql("CALL graft_cat.system.optimize(" +
      "table => 'default.proc_delim', min_files => 2147483647)")
    val fsx = new org.apache.hadoop.fs.Path(t)
      .getFileSystem(spark.sessionState.newHadoopConf())
    val m = graft.sources.v2.DelimLog.readManifest(fsx,
      new org.apache.hadoop.fs.Path(t)).get
    assert(m.tombstones.isEmpty, "CALL optimize must retire the tombstone")
    val got = spark.sql(
      "SELECT id, v, s FROM graft_cat.default.proc_delim ORDER BY id")
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getString(2))).toSeq
    assert(got == (1L to 15L).map(i => (i, i.toDouble, s"txt$i")),
      s"retirement corrupted a ','-delimited table: ${got.take(3)}")
  }

}
