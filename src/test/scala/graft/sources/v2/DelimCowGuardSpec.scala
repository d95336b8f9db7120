package graft.sources.v2

import org.apache.hadoop.fs.{Path => HPath}
import org.apache.spark.sql.types.StructType

import graft.SparkFunSuite

/** The copy-on-write optimistic-concurrency guard (round-18 advice):
  * a row-level write whose table advanced between its scan and its
  * commit must abort with ConcurrentModificationException — silently
  * absorbing the interleaved commit re-adds rewritten copies of rows
  * the other operation already replaced or deleted. Driven directly
  * through DelimWrite (the query path cannot pause mid-statement).
  */
class DelimCowGuardSpec extends SparkFunSuite {
  import spark.implicits._

  private def mkTable(t: String): Unit = {
    Seq((1L, 1.0), (2L, 2.0)).toDF("id", "v").coalesce(1)
      .write.format("graft-delim").mode("overwrite").save(t) // gen 1
  }
  private def fsOf(t: String) =
    new HPath(t).getFileSystem(spark.sessionState.newHadoopConf())
  private def cowWrite(t: String, scanned: Seq[String], baseGen: Long) =
    new DelimWrite(StructType.fromDDL("id BIGINT, v DOUBLE"),
      queryId = java.util.UUID.randomUUID().toString, path = t, delim = '|',
      truncate = false,
      replaceScanned = Some(() => scanned),
      replaceBaseGen = () => Some(baseGen))

  test("commit aborts when the table advanced past the scan's base generation") {
    val t = s"${tempDir("cow-gen")}/t"
    mkTable(t)
    val fs = fsOf(t)
    val scanned = DelimLog.readManifest(fs, new HPath(t)).get.files
      .map(e => s"$t/${e.rel}")
    // a concurrent commit lands between "scan" and commit
    Seq((3L, 3.0)).toDF("id", "v").coalesce(1)
      .write.format("graft-delim").mode("append").save(t) // gen 2
    val e = intercept[java.util.ConcurrentModificationException] {
      cowWrite(t, scanned, baseGen = 1L).commit(Array.empty)
    }
    assert(e.getMessage.contains("generation 1") &&
      e.getMessage.contains("now at generation 2"))
    // nothing was lost: both generations' rows still read
    assert(spark.read.format("graft-delim")
      .schema("id BIGINT, v DOUBLE").load(t).count() == 3)
  }

  test("commit aborts when a scanned file is no longer listed") {
    val t = s"${tempDir("cow-file")}/t"
    mkTable(t)
    val e = intercept[java.util.ConcurrentModificationException] {
      cowWrite(t, Seq(s"$t/no-such-file.txt"), baseGen = 1L)
        .commit(Array.empty)
    }
    assert(e.getMessage.contains("no longer listed"))
  }

  test("commit proceeds when the snapshot is unchanged") {
    val t = s"${tempDir("cow-ok")}/t"
    mkTable(t)
    val fs = fsOf(t)
    val scanned = DelimLog.readManifest(fs, new HPath(t)).get.files
      .map(e => s"$t/${e.rel}")
    // zero replacement rows = a DELETE of everything the scan read
    cowWrite(t, scanned, baseGen = 1L).commit(Array.empty)
    val m = DelimLog.readManifest(fs, new HPath(t)).get
    assert(m.gen == 2L && m.files.isEmpty)
  }
}
