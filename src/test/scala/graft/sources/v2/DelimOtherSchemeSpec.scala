package graft.sources.v2

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path => HPath}
import org.apache.spark.sql.streaming.Trigger

import graft.SparkFunSuite

/** Certifies graft-delim on a filesystem that is not `file://`: the
  * local disk under [[CountingLocalFileSystem]]'s scheme, so every
  * commit, data write, scan and streaming checkpoint runs Hadoop's
  * generic code paths, the ones HDFS and object stores take. The same
  * statements then run on `file://` through the shipped local
  * filesystem, which must leave no `.crc` sidecar in a table or a
  * checkpoint. Each statement's filesystem call counts are printed as
  * `[calls]` lines after the suite.
  */
class DelimOtherSchemeSpec extends SparkFunSuite {
  import spark.implicits._
  import CountingLocalFileSystem.Scheme

  override def beforeAll(): Unit = {
    super.beforeAll()
    CountingLocalFileSystem.Confs.foreach { case (k, v) =>
      spark.sparkContext.hadoopConfiguration.set(k, v)
    }
  }

  private val calls =
    scala.collection.mutable.ArrayBuffer.empty[(String, Map[String, Long])]

  private def counted[A](stmt: String)(body: => A): A = {
    CountingLocalFileSystem.drain()
    val r = body
    calls += stmt -> CountingLocalFileSystem.drain()
    r
  }

  override def afterAll(): Unit = {
    calls.foreach { case (stmt, c) =>
      println(f"[calls] $stmt%-28s " +
        CountingLocalFileSystem.Ops.map(op => s"$op=${c(op)}").mkString(" "))
    }
    super.afterAll()
  }

  private def row(i: Long): (Long, Double, String) =
    (i, i.toDouble, if (i % 2 == 0) "a" else "b")

  private def rowsOf(df: org.apache.spark.sql.DataFrame): Seq[(Long, Double, String)] =
    df.orderBy("id").collect().toSeq
      .map(r => (r.getLong(0), r.getDouble(1), r.getString(2)))

  private def manifest(loc: String): DelimLog.DelimManifest = {
    val hp = new HPath(loc)
    DelimLog.readManifest(hp.getFileSystem(DelimV2.driverConf()), hp).get
  }

  private def crcFiles(dir: String): Seq[String] = {
    def walk(f: java.io.File): Seq[String] =
      if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.flatMap(walk)
      else if (f.getName.endsWith(".crc")) Seq(f.getPath) else Nil
    walk(new java.io.File(dir))
  }

  /** Append, CoW MERGE, MoR DELETE, compaction, a time-travel read and a
    * `readStream` micro-batch against the table at `loc`, each checked
    * against its exact rows. `label` prefixes the counted statements
    * (None: not counted). */
  private def roundTrip(name: String, loc: String, ckpt: String,
      label: Option[String]): Unit = {
    def stmt[A](s: String)(body: => A): A =
      label.fold(body)(l => counted(s"$l $s")(body))
    val tbl = s"graft_cat.default.$name"
    spark.sql(s"DROP TABLE IF EXISTS $tbl")
    spark.sql(s"""CREATE TABLE $tbl (id BIGINT, v DOUBLE, pc STRING)
      USING `graft-delim` PARTITIONED BY (pc)
      OPTIONS (retainVersions '10') LOCATION '$loc'""")
    def current = rowsOf(spark.table(tbl))
    stmt("append") {
      (1L to 10L).map(row).toDF("id", "v", "pc").writeTo(tbl).append()
    }
    val firstGen = manifest(loc).gen
    (11L to 20L).map(row).toDF("id", "v", "pc").writeTo(tbl).append()
    assert(current == (1L to 20L).map(row))

    Seq((5L, 500.0, "b"), (21L, 21.0, "b")).toDF("id", "v", "pc")
      .createOrReplaceTempView(s"${name}_delta")
    stmt("MERGE (CoW)") {
      spark.sql(s"""MERGE INTO $tbl t USING ${name}_delta d
        ON t.id = d.id AND t.pc = d.pc
        WHEN MATCHED THEN UPDATE SET *
        WHEN NOT MATCHED THEN INSERT *""")
    }
    val merged = (1L to 21L).map(i => if (i == 5L) (5L, 500.0, "b") else row(i))
    assert(current == merged)

    stmt("DELETE (MoR)") { spark.sql(s"DELETE FROM $tbl WHERE id > 18") }
    assert(manifest(loc).tombstones.size == 1, "DELETE did not commit a tombstone")
    assert(current == merged.take(18))

    stmt("compact") { DelimCompact.compact(spark, loc) }
    assert(current == merged.take(18))

    val old = stmt("versionAsOf read") {
      rowsOf(spark.read.format("graft-delim")
        .schema("id BIGINT, v DOUBLE, pc STRING")
        .option("versionAsOf", firstGen.toString).load(loc))
    }
    assert(old == (1L to 10L).map(row))

    stmt("readStream batch") {
      val q = spark.readStream.format("graft-delim")
        .schema("id BIGINT, v DOUBLE, pc STRING").load(loc)
        .writeStream.format("memory").queryName(s"${name}_stream")
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow()).start()
      try q.awaitTermination() finally q.stop()
    }
    assert(rowsOf(spark.table(s"${name}_stream")) == merged.take(18))
    spark.sql(s"DROP TABLE $tbl")
  }

  test("a graft-delim table round-trips on a non-file scheme") {
    val dir = tempDir("delim-other-scheme")
    roundTrip("other_scheme", s"$Scheme://$dir/t", s"$Scheme://$dir/ckpt",
      label = Some(Scheme))
    assert(crcFiles(dir).isEmpty)
  }

  test("on file:// the table and the checkpoint hold no .crc sidecar") {
    val dir = tempDir("delim-file-scheme")
    roundTrip("file_scheme", s"file://$dir/t", s"file://$dir/ckpt", label = None)
    assert(new java.io.File(s"$dir/ckpt/commits").exists)
    assert(crcFiles(dir).isEmpty, crcFiles(dir).mkString(", "))
  }

  test("a stock LocalFileSystem in Hadoop's cache leaves graft-delim on the shipped one") {
    val dir = tempDir("delim-poisoned-cache")
    val fileUri = java.net.URI.create("file:///")
    // evict the cached file:// instance, then cache one built from a
    // conf without the session's bindings: checksummed, chmod-forking
    FileSystem.get(fileUri, spark.sparkContext.hadoopConfiguration).close()
    val poisoned = FileSystem.get(fileUri, new Configuration())
    try {
      assert(!poisoned.isInstanceOf[graft.core.BareLocalFileSystem])
      assert(FileSystem.get(fileUri, DelimV2.driverConf()) eq poisoned)
      val loc = s"file://$dir/t"
      val fs = DelimV2.fileSystem(new HPath(loc), DelimV2.driverConf())
      assert(fs.isInstanceOf[graft.core.BareLocalFileSystem])
      assert(DelimV2.fileSystem(new HPath(dir), DelimV2.driverConf()) eq fs)

      val tbl = "graft_cat.default.poisoned_cache"
      spark.sql(s"DROP TABLE IF EXISTS $tbl")
      spark.sql(s"""CREATE TABLE $tbl (id BIGINT, v DOUBLE, pc STRING)
        USING `graft-delim` PARTITIONED BY (pc) LOCATION '$loc'""")
      (1L to 10L).map(row).toDF("id", "v", "pc").writeTo(tbl).append()
      (11L to 20L).map(row).toDF("id", "v", "pc").writeTo(tbl).append()
      val appended = manifest(loc).gen
      assert(DelimCompact.compact(spark, loc) > appended, "nothing compacted")
      assert(rowsOf(spark.table(tbl)) == (1L to 20L).map(row))
      assert(crcFiles(dir).isEmpty, crcFiles(dir).mkString(", "))
      spark.sql(s"DROP TABLE $tbl")
    } finally poisoned.close() // later specs look up a clean cache
  }
}
