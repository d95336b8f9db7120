package graft.sources.v2

import org.apache.hadoop.fs.{Path => HPath}

import graft.SparkFunSuite

/** The one commit path ([[DelimLog.commit]]): a mutation that loses its
  * generation claim must leave the table exactly as it found it — the
  * generation unchanged, and every data file and bloom sidecar on disk
  * listed by the manifest (no promoted orphan survives the rollback).
  * One table-driven case per kind of mutation that promotes files.
  */
class DelimCommitSpec extends SparkFunSuite {
  import spark.implicits._

  private def fs(t: String) =
    new HPath(t).getFileSystem(spark.sessionState.newHadoopConf())
  private def manifest(t: String) =
    DelimLog.readManifest(fs(t), new HPath(t)).get

  /** Every visible file under the table root, root-relative (staging,
    * manifests and checksum sidecars excluded). */
  private def filesOnDisk(t: String): Seq[String] = {
    val root = fs(t).makeQualified(new HPath(t)).toUri
    val it = fs(t).listFiles(new HPath(t), true)
    Iterator.continually(it).takeWhile(_.hasNext).map(_.next().getPath)
      .map(p => root.relativize(fs(t).makeQualified(p).toUri).getPath)
      .filterNot(_.split('/').exists(s => s.startsWith("_") || s.startsWith(".")))
      .toSeq
  }

  test("a lost generation claim rolls back every promoted file and sidecar") {
    def write(t: String, lo: Long, mode: String): Unit =
      (lo until lo + 20L).map(i => (i, i.toDouble)).toDF("id", "v")
        .coalesce(1).write.format("graft-delim")
        .option("bloomFor", "id").mode(mode).save(t)
    val cases: Seq[(String, String => Unit)] = Seq(
      "INSERT append" -> (t => write(t, 100L, "append")),
      "INSERT OVERWRITE" -> (t => write(t, 100L, "overwrite")),
      "copy-on-write MERGE" -> { t =>
        spark.sql("DROP TABLE IF EXISTS graft_cat.default.commit_rb_t")
        spark.sql(s"""CREATE TABLE graft_cat.default.commit_rb_t
          (id BIGINT, v DOUBLE) USING `graft-delim`
          OPTIONS (bloomFor 'id') LOCATION '$t'""")
        Seq((5L, 500.0), (105L, 1050.0)).toDF("id", "v")
          .createOrReplaceTempView("commit_rb_src")
        spark.sql("""MERGE INTO graft_cat.default.commit_rb_t t
          USING commit_rb_src s ON t.id = s.id
          WHEN MATCHED THEN UPDATE SET v = s.v
          WHEN NOT MATCHED THEN INSERT (id, v) VALUES (s.id, s.v)""")
        ()
      },
      "DelimCompact.compact" -> { t => DelimCompact.compact(spark, t); () })
    cases.foreach { case (op, run) =>
      val t = s"${tempDir("commit-rollback")}/t"
      write(t, 0L, "overwrite")
      write(t, 20L, "append")
      val m0 = manifest(t)
      assert(m0.bloomCols == Seq("id"), op)
      // claim the next generation out-of-band: the operation loses the
      // CAS after promoting its files
      val fake = new HPath(t, s"${DelimLog.ManifestFile}.v${m0.gen + 1}")
      val out = fs(t).create(fake, false); out.close()
      val e = intercept[Exception](run(t))
      val chain = Iterator.iterate(e: Throwable)(_.getCause)
        .takeWhile(_ != null).map(x => Option(x.getMessage).getOrElse(""))
        .mkString("|")
      assert(chain.contains("already claimed"), s"$op: unexpected failure: $e")
      val m1 = manifest(t)
      assert(m1.gen == m0.gen, s"$op: generation moved")
      val listed = m1.files.map(_.rel).toSet
      filesOnDisk(t).foreach { rel =>
        assert(listed.contains(rel.stripSuffix(DelimBloom.Suffix)),
          s"$op: $rel survived the rollback unlisted")
      }
      fs(t).delete(fake, false)
    }
  }
}
