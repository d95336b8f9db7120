package graft.sources

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import graft.SparkFunSuite
import graft.sources.v2.{DelimLog, DelimScanMetrics}

/** Certifies the GraftCatalog partition-DDL front door (the reference's
  * S1 surface): SHOW PARTITIONS lists the manifest's k=v partitions
  * plus the ones ADD PARTITION made,
  * ALTER TABLE ADD/DROP PARTITION are reflected in both the file tree
  * and subsequent pruned scans, and DROP swaps the snapshot manifest
  * before deleting bytes.
  */
class GraftCatalogSpec extends SparkFunSuite {
  import spark.implicits._

  private def parts(tbl: String): Seq[String] =
    spark.sql(s"SHOW PARTITIONS $tbl").collect().map(_.getString(0)).sorted.toSeq

  test("SHOW PARTITIONS lists the directory tree; ADD/DROP reflected in tree and scans") {
    val dir = tempDir("graftcat-ddl")
    Seq((1L, "a"), (2L, "b"), (3L, "a"), (4L, "c")).toDF("id", "pc")
      .write.format("graft-delim").option("partitionBy", "pc")
      .mode("overwrite").save(s"$dir/t")
    spark.sql("DROP TABLE IF EXISTS graft_cat.default.ddl_t")
    spark.sql(s"""CREATE TABLE graft_cat.default.ddl_t (id BIGINT, pc STRING)
      USING `graft-delim` PARTITIONED BY (pc) LOCATION '$dir/t'""")
    assert(parts("graft_cat.default.ddl_t") === Seq("pc=a", "pc=b", "pc=c"))

    // ADD: the directory appears; an empty partition lists (Hive-style)
    // but contributes no rows
    spark.sql("ALTER TABLE graft_cat.default.ddl_t ADD PARTITION (pc='z')")
    assert(Files.isDirectory(Paths.get(s"$dir/t/pc=z")))
    assert(parts("graft_cat.default.ddl_t") === Seq("pc=a", "pc=b", "pc=c", "pc=z"))
    assert(spark.table("graft_cat.default.ddl_t").count() === 4)
    // adding an existing partition throws; IF NOT EXISTS does not
    intercept[Exception] {
      spark.sql("ALTER TABLE graft_cat.default.ddl_t ADD PARTITION (pc='a')")
    }
    spark.sql("ALTER TABLE graft_cat.default.ddl_t ADD IF NOT EXISTS PARTITION (pc='a')")

    // DROP: subtree gone, partition list and row counts shrink, and the
    // manifest no longer references the dropped files
    spark.sql("ALTER TABLE graft_cat.default.ddl_t DROP PARTITION (pc='a')")
    assert(!Files.exists(Paths.get(s"$dir/t/pc=a")))
    assert(parts("graft_cat.default.ddl_t") === Seq("pc=b", "pc=c", "pc=z"))
    assert(spark.table("graft_cat.default.ddl_t").count() === 2)
    val hp = new org.apache.hadoop.fs.Path(s"$dir/t")
    val fs = hp.getFileSystem(spark.sessionState.newHadoopConf())
    val manifest = DelimLog.readManifest(fs, hp).get.entries.map(_._2)
    assert(!manifest.exists(_.startsWith("pc=a/")), manifest.mkString(","))

    // a subsequent partition-filtered scan file-prunes to the surviving
    // partition (the DDL is visible to the planner, not just the tree)
    val df = spark.table("graft_cat.default.ddl_t").filter($"pc" === "b")
    assert(df.collect().map(_.getLong(0)).toSeq === Seq(2L))
    val DelimScanMetrics(_, disc, kept, _, _, _) = DelimScanMetrics.one(df)
    assert(kept < disc && kept > 0, s"no file-level pruning: ($disc, $kept)")
  }

  test("INSERT INTO a partitioned catalog table re-creates dropped partitions") {
    val dir = tempDir("graftcat-insert")
    Seq((1L, "a"), (2L, "b")).toDF("id", "pc")
      .write.format("graft-delim").option("partitionBy", "pc")
      .mode("overwrite").save(s"$dir/t")
    spark.sql("DROP TABLE IF EXISTS graft_cat.default.ins_t")
    spark.sql(s"""CREATE TABLE graft_cat.default.ins_t (id BIGINT, pc STRING)
      USING `graft-delim` PARTITIONED BY (pc) LOCATION '$dir/t'""")
    spark.sql("ALTER TABLE graft_cat.default.ins_t DROP PARTITION (pc='b')")
    spark.sql("INSERT INTO graft_cat.default.ins_t VALUES (9, 'b')")
    assert(parts("graft_cat.default.ins_t") === Seq("pc=a", "pc=b"))
    assert(spark.table("graft_cat.default.ins_t")
      .filter($"pc" === "b").collect().map(_.getLong(0)).toSeq === Seq(9L))
  }

  test("multi-level partition trees: SHOW/ADD/DROP walk both k=v levels") {
    val dir = tempDir("graftcat-multi")
    Seq((1L, "a", 10L), (2L, "a", 20L), (3L, "b", 10L))
      .toDF("id", "p1", "p2")
      .write.format("graft-delim").option("partitionBy", "p1,p2")
      .mode("overwrite").save(s"$dir/t")
    spark.sql("DROP TABLE IF EXISTS graft_cat.default.ml_t")
    spark.sql(s"""CREATE TABLE graft_cat.default.ml_t
      (id BIGINT, p1 STRING, p2 BIGINT)
      USING `graft-delim` PARTITIONED BY (p1, p2) LOCATION '$dir/t'""")
    assert(parts("graft_cat.default.ml_t")
      === Seq("p1=a/p2=10", "p1=a/p2=20", "p1=b/p2=10"))
    // the partial-spec form lists only the matching subtree
    assert(spark.sql(
      "SHOW PARTITIONS graft_cat.default.ml_t PARTITION (p1='a')")
      .collect().map(_.getString(0)).sorted.toSeq
      === Seq("p1=a/p2=10", "p1=a/p2=20"))
    spark.sql("ALTER TABLE graft_cat.default.ml_t ADD PARTITION (p1='b', p2=99)")
    assert(parts("graft_cat.default.ml_t").contains("p1=b/p2=99"))
    spark.sql("ALTER TABLE graft_cat.default.ml_t DROP PARTITION (p1='a', p2=20)")
    assert(parts("graft_cat.default.ml_t")
      === Seq("p1=a/p2=10", "p1=b/p2=10", "p1=b/p2=99"))
    assert(spark.table("graft_cat.default.ml_t").count() === 2)
  }

  test("CTAS and REPLACE TABLE AS SELECT work through the catalog") {
    val dir = tempDir("graftcat-ctas")
    Seq((1L, "a"), (2L, "b"), (3L, "a")).toDF("id", "pc")
      .createOrReplaceTempView("ctas_src")
    spark.sql("DROP TABLE IF EXISTS graft_cat.default.ctas_t")
    spark.sql(s"""CREATE TABLE graft_cat.default.ctas_t
      USING `graft-delim` PARTITIONED BY (pc) LOCATION '$dir/t'
      AS SELECT id, pc FROM ctas_src""")
    assert(parts("graft_cat.default.ctas_t") === Seq("pc=a", "pc=b"))
    assert(spark.table("graft_cat.default.ctas_t").count() === 3)
    // RTAS replaces schema AND data (non-atomic in this catalog — a
    // drop-then-create; the manifest still keeps individual WRITES
    // atomic). The replaced table must carry only the new generation.
    spark.sql(s"""REPLACE TABLE graft_cat.default.ctas_t
      USING `graft-delim` LOCATION '$dir/t'
      AS SELECT id FROM ctas_src WHERE pc = 'a'""")
    val back = spark.table("graft_cat.default.ctas_t")
    assert(back.columns.toSeq === Seq("id"))
    assert(back.collect().map(_.getLong(0)).sorted.toSeq === Seq(1L, 3L))
  }

  test("typed partition columns list and drop with value semantics, not string ones") {
    val dir = tempDir("graftcat-typed")
    Seq((1L, 10L), (2L, 20L)).toDF("id", "k")
      .write.format("graft-delim").option("partitionBy", "k")
      .mode("overwrite").save(s"$dir/t")
    spark.sql("DROP TABLE IF EXISTS graft_cat.default.typed_t")
    spark.sql(s"""CREATE TABLE graft_cat.default.typed_t (id BIGINT, k BIGINT)
      USING `graft-delim` PARTITIONED BY (k) LOCATION '$dir/t'""")
    assert(parts("graft_cat.default.typed_t") === Seq("k=10", "k=20"))
    // the spec value arrives typed (bigint 10), the directory is k=10
    spark.sql("ALTER TABLE graft_cat.default.typed_t DROP PARTITION (k=10)")
    assert(parts("graft_cat.default.typed_t") === Seq("k=20"))
    assert(spark.table("graft_cat.default.typed_t").count() === 1)
  }

  test("DROP PARTITION keeps a retained data file's bloom sidecar") {
    val dir = tempDir("graftcat-dropbloom")
    Seq((1L, "a"), (2L, "b"), (3L, "a")).toDF("id", "pc")
      .coalesce(1).write.format("graft-delim").option("partitionBy", "pc")
      .option("bloomFor", "id").option("retainVersions", "3")
      .mode("overwrite").save(s"$dir/t")
    spark.sql("DROP TABLE IF EXISTS graft_cat.default.dropbloom_t")
    spark.sql(s"""CREATE TABLE graft_cat.default.dropbloom_t (id BIGINT, pc STRING)
      USING `graft-delim` PARTITIONED BY (pc) LOCATION '$dir/t'""")
    def inA(): Seq[String] = {
      val ls = Files.list(Paths.get(s"$dir/t/pc=a"))
      try ls.iterator().asScala.map(_.getFileName.toString)
        .filterNot(_.startsWith(".")).toSeq.sorted
      finally ls.close()
    }
    val before = inA()
    assert(before.size == 2 && before.exists(_.endsWith(".bloom")),
      s"fixture must land one data file and its sidecar: $before")
    spark.sql("ALTER TABLE graft_cat.default.dropbloom_t DROP PARTITION (pc='a')")
    // the dropped generation is still retained (versionAsOf reads it):
    // its data file AND the sidecar that lets that read skip both stay
    assert(inA() == before, s"retained partition files changed: ${inA()}")
    assert(spark.table("graft_cat.default.dropbloom_t").count() === 1)
  }

  test("DROP PARTITION inside a retention window unlists the partition") {
    val dir = tempDir("graftcat-dropretained")
    Seq((1L, "a"), (2L, "b")).toDF("id", "pc")
      .write.format("graft-delim").option("partitionBy", "pc")
      .option("retainVersions", "3").mode("overwrite").save(s"$dir/t")
    val tbl = "graft_cat.default.dropretained_t"
    spark.sql(s"DROP TABLE IF EXISTS $tbl")
    spark.sql(s"""CREATE TABLE $tbl (id BIGINT, pc STRING)
      USING `graft-delim` PARTITIONED BY (pc) LOCATION '$dir/t'""")
    spark.sql(s"ALTER TABLE $tbl DROP PARTITION (pc='a')")
    // the retained generation still lists pc=a's file, so its directory
    // stays; the partition does not
    assert(Files.isDirectory(Paths.get(s"$dir/t/pc=a")))
    assert(parts(tbl) === Seq("pc=b"))
    intercept[Exception](spark.sql(s"ALTER TABLE $tbl DROP PARTITION (pc='a')"))
    // ADD over the leftover directory makes an empty partition again
    spark.sql(s"ALTER TABLE $tbl ADD PARTITION (pc='a')")
    assert(parts(tbl) === Seq("pc=a", "pc=b"))
    assert(spark.table(tbl).count() === 1)
    spark.sql(s"ALTER TABLE $tbl DROP PARTITION (pc='a')")
    assert(parts(tbl) === Seq("pc=b"))
  }
}
