package graft.functions

import org.apache.spark.sql.functions._
import org.apache.spark.util.sketch.CountMinSketch

class CmsSketchSpec extends graft.SparkFunSuite {

  // 0..999 keyed id % 97: key k occurs 11 times for k < 30 (ids 970..999 wrap to keys 0..29), else 10
  private def keys = spark.range(0, 1000).select((col("id") % 97).as("k"))

  test("sharded build + union is byte-identical to the one-pass sketch") {
    val direct = keys.agg(CmsSketch.buildLong(col("k")).as("sk"))
      .head().getAs[Array[Byte]](0)
    val sharded = keys.withColumn("shard", col("k") % 5)
      .groupBy("shard").agg(CmsSketch.buildLong(col("k")).as("sk"))
      .agg(CmsSketch.union(col("sk")).as("sk"))
      .head().getAs[Array[Byte]](0)
    assert(java.util.Arrays.equals(direct, sharded),
      "CMS cells are sums — the merge tree must not change the sketch")
  }

  test("estimates never undercount, and are exact when the sketch is collision-free") {
    val bytes = keys.agg(CmsSketch.buildLong(col("k")).as("sk"))
      .head().getAs[Array[Byte]](0)
    val cms = CmsSketch.deserialize(bytes)
    assert(cms.totalCount() == 1000L)
    (0L until 97L).foreach { k =>
      val exact = if (k < 30) 11L else 10L
      val est = cms.estimateCount(java.lang.Long.valueOf(k))
      assert(est == exact, s"key $k: est $est vs exact $exact " +
        "(97 keys in a width-20000 sketch cannot collide in all 10 rows)")
    }
    // an absent key estimates 0 absent collisions
    assert(cms.estimateCount(java.lang.Long.valueOf(500L)) == 0L)
  }

  test("forced collisions overcount but never undercount") {
    // width ~ 2/eps = 20 cells per row for 97 distinct keys — heavy
    // collisions by construction
    val tiny = keys.agg(
      udaf(new CmsBuildLong(0.1, 0.99, CmsSketch.Seed)).apply(col("k")).as("sk"))
      .head().getAs[Array[Byte]](0)
    val cms = CountMinSketch.readFrom(tiny)
    val ests = (0L until 97L).map { k =>
      val exact = if (k < 30) 11L else 10L
      val est = cms.estimateCount(java.lang.Long.valueOf(k))
      assert(est >= exact, s"CMS must never undercount (key $k: $est < $exact)")
      est - exact
    }
    assert(ests.exists(_ > 0L),
      "a 20-cell-wide sketch over 97 keys must actually collide somewhere")
  }

  test("SQL front door: build, union, and probe from plain SQL") {
    keys.createOrReplaceTempView("cms_keys")
    val row = spark.sql(
      """WITH shards AS (
        |  SELECT k % 5 AS shard, graft_cms_build(k) AS sk
        |  FROM cms_keys GROUP BY 1),
        |merged AS (SELECT graft_cms_union(sk) AS sk FROM shards)
        |SELECT graft_cms_estimate(sk, 3L) AS hot,
        |       graft_cms_estimate(sk, 96L) AS cold,
        |       graft_cms_estimate(sk, 12345L) AS absent
        |FROM merged""".stripMargin).head()
    assert(row.getLong(0) == 11L && row.getLong(1) == 10L && row.getLong(2) == 0L)
  }

  test("probing a null sketch yields null, not an NPE") {
    val row = spark.sql(
      "SELECT graft_cms_estimate(CAST(NULL AS BINARY), 3L) AS est").head()
    assert(row.isNullAt(0),
      "a null sketch (e.g. an empty outer-join side) must probe to null")
  }

  test("union over an empty / all-null column yields the empty sketch") {
    val empty = keys.filter(col("k") < 0)
      .agg(CmsSketch.union(lit(null).cast("binary")).as("sk"))
      .head().getAs[Array[Byte]](0)
    assert(CmsSketch.deserialize(empty).totalCount() == 0L)
    val allNull = spark.range(3)
      .agg(CmsSketch.union(lit(null).cast("binary")).as("sk"))
      .head().getAs[Array[Byte]](0)
    assert(CmsSketch.deserialize(allNull).totalCount() == 0L)
  }
}
