package graft.sources

import org.apache.hadoop.fs.{Path => HPath}

import graft.SparkFunSuite
import graft.sources.v2.{DelimBloom, DelimLog}

/** Round-19 code-health regressions (ADVICE.md):
  * - a literal two-character "\N" string value must survive a
  *   write→read round trip (quoted on the way out, not decoded as
  *   the null token on the way back);
  * - multi-root reads must not apply one root's MoR tombstones to
  *   another root's files (loud reject) while tombstone-free
  *   multi-root reads keep working;
  * - a streaming epoch commit must carry the bloom-column header
  *   forward (sidecars keep probing after a stream write);
  * - the bloom writer must hash the probe-side canonical text for
  *   -0.0 so a pushed `col = 0.0` cannot skip the file holding it;
  * - TRUNCATE TABLE on a manifest-less directory fails loudly
  *   instead of silently succeeding (TruncateTableExec treats a
  *   false return as success).
  */
class Round19AdviceSpec extends SparkFunSuite {
  import spark.implicits._

  private def fs(t: String) =
    new HPath(t).getFileSystem(spark.sessionState.newHadoopConf())
  private def manifest(t: String) =
    DelimLog.readManifest(fs(t), new HPath(t)).get

  test("a literal \\N string survives the write-read round trip quoted") {
    val t = s"${tempDir("advice-litn")}/t"
    Seq((1L, "\\N"), (2L, null), (3L, "plain"))
      .toDF("id", "s")
      .coalesce(1).write.format("graft-delim").mode("overwrite").save(t)
    // on disk: row 1's field is QUOTED, row 2's is the bare null token
    val rel = manifest(t).files.head.rel
    val raw = {
      val in = fs(t).open(new HPath(t, rel))
      try scala.io.Source.fromInputStream(in).mkString finally in.close()
    }
    assert(raw.contains("\"\\N\""), s"literal \\N not quoted on disk:\n$raw")
    val back = spark.read.format("graft-delim")
      .schema("id BIGINT, s STRING")
      .load(t).orderBy("id")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(back == Seq((1L, "\\N"), (2L, null), (3L, "plain")),
      s"round trip corrupted: $back")
    // with quoting disabled the value is unrepresentable: fail loudly
    intercept[Exception] {
      Seq((1L, "\\N")).toDF("id", "s")
        .coalesce(1).write.format("graft-delim")
        .option("quote", "none").mode("overwrite").save(s"${tempDir("advice-litn2")}/t")
    }
  }

  test("multi-root reads apply each root's tombstones to its own files") {
    // round 19 rejected a multi-root read over any tombstone-bearing
    // table loudly; round 20 implements it — per-root manifests, each
    // root's tombstones scoped to exactly its own files (generation
    // numbers are only meaningful within one lineage)
    val dir = tempDir("advice-multiroot")
    def mk(name: String, t: String, lo: Long, hi: Long): Unit = {
      spark.sql(s"DROP TABLE IF EXISTS graft_cat.default.$name")
      spark.sql(s"""CREATE TABLE graft_cat.default.$name (id BIGINT, v DOUBLE)
        USING `graft-delim` LOCATION '$t'""")
      (lo to hi).map(i => (i, i.toDouble)).toDF("id", "v")
        .writeTo(s"graft_cat.default.$name").append()
    }
    mk("mr_a", s"$dir/a", 1L, 50L)
    mk("mr_b", s"$dir/b", 51L, 100L)
    def both = spark.read.format("graft-delim")
      .schema("id BIGINT, v DOUBLE")
      .option("paths", s"$dir/a,$dir/b")
    // tombstone-free multi-root: full union, correct counts
    assert(both.load().count() == 100L)
    assert(both.load().agg(org.apache.spark.sql.functions.sum($"id"))
      .head.getLong(0) == (1L to 100L).sum)
    // root B gains a tombstone whose predicate ALSO matches rows in A
    // (id > 40 covers A's 41..50 at the same generation number): the
    // union must delete B's matched rows and NONE of A's
    spark.sql("DELETE FROM graft_cat.default.mr_b WHERE id > 90")
    spark.sql("DELETE FROM graft_cat.default.mr_b WHERE id > 40 AND id < 55")
    val got = both.load().select($"id").as[Long].collect().sorted.toSeq
    val expect = ((1L to 50L) ++ (55L to 90L)).sorted
    assert(got == expect,
      s"per-root tombstone application broken: missing=" +
        s"${expect.diff(got)} resurrected=${got.diff(expect)}")
    // each root alone still reads exactly its own snapshot
    assert(spark.read.format("graft-delim").schema("id BIGINT, v DOUBLE")
      .load(s"$dir/b").count() == 36L)
    assert(spark.read.format("graft-delim").schema("id BIGINT, v DOUBLE")
      .load(s"$dir/a").count() == 50L)
  }

  test("a streaming epoch commit preserves the bloom-column header") {
    val dir = tempDir("advice-streambloom")
    val t = s"$dir/t"
    spark.range(1L, 101L).select($"id", ($"id" * 2.0).as("v"))
      .coalesce(1).write.format("graft-delim")
      .option("bloomFor", "id").mode("overwrite").save(t)
    assert(manifest(t).bloomCols == Seq("id"))
    spark.range(101L, 201L).select($"id", ($"id" * 2.0).as("v"))
      .coalesce(1).write.parquet(s"$dir/src")
    val q = spark.readStream.schema("id BIGINT, v DOUBLE")
      .parquet(s"$dir/src")
      .writeStream.format("graft-delim")
      .option("path", t)
      .option("checkpointLocation", s"$dir/ckpt")
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val m = manifest(t)
    assert(m.files.map(_.gen).distinct.size == 2, "epoch did not commit")
    assert(m.bloomCols == Seq("id"),
      s"stream commit dropped the bloom header: ${m.bloomCols}")
    // the pre-stream sidecar still gates: absent-key probe skips it
    val firstGen = m.files.map(_.gen).min
    val pre = m.files.filter(_.gen == firstGen)
    assert(pre.forall(e => DelimBloom.fileSkips(fs(t),
      new HPath(t, e.rel), Seq(("id", Seq("999999"))))),
      "pre-stream sidecar no longer probes")
  }

  test("a file whose only match is -0.0 is not bloom-skipped by col = 0.0") {
    val t = s"${tempDir("advice-negzero")}/t"
    Seq((1L, -0.0), (2L, 5.5)).toDF("id", "v")
      .coalesce(1).write.format("graft-delim")
      .option("bloomFor", "v").mode("overwrite").save(t)
    val df = spark.read.format("graft-delim").schema("id BIGINT, v DOUBLE")
      .load(t)
    // -0.0 == 0.0 in Spark filter semantics; the bloom gate must agree
    assert(df.filter($"v" === 0.0).select("id").as[Long].collect().toSeq
      == Seq(1L))
    assert(df.filter($"v" === -0.0).count() == 1L)
  }

  test("TRUNCATE TABLE on a manifest-less directory fails loudly") {
    val dir = tempDir("advice-trunc")
    val t = s"$dir/t"
    fs(t).mkdirs(new HPath(t))
    val out = fs(t).create(new HPath(t, "part-legacy.txt"))
    out.write("1\u00012.0\n".getBytes("UTF-8")); out.close()
    spark.sql("DROP TABLE IF EXISTS graft_cat.default.legacy_trunc")
    spark.sql(s"""CREATE TABLE graft_cat.default.legacy_trunc
      (id BIGINT, v DOUBLE) USING `graft-delim` LOCATION '$t'""")
    assert(spark.table("graft_cat.default.legacy_trunc").count() == 1L)
    val e = intercept[Exception] {
      spark.sql("TRUNCATE TABLE graft_cat.default.legacy_trunc")
    }
    val msg = Option(e.getMessage).getOrElse("") +
      Option(e.getCause).flatMap(c => Option(c.getMessage)).getOrElse("")
    assert(msg.contains("manifest"), s"unexpected error: $e")
    // and the data was NOT silently dropped
    assert(spark.table("graft_cat.default.legacy_trunc").count() == 1L)
  }
}
