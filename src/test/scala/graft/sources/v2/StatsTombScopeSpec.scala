package graft.sources.v2

import org.apache.hadoop.fs.{Path => HPath}
import org.apache.spark.sql.functions._

import graft.SparkFunSuite

/** Per-file scoping of the tombstone suppression on the metadata
  * aggregate paths (round-20): a live MoR tombstone makes recorded
  * stats uncertain ONLY for files it could touch — files at or before
  * its generation whose partition values don't contradict the delete
  * predicate's partition conjuncts. Both scoping dimensions are pinned
  * here; the partition dimension is also oracle-certified by
  * `delim_v2_stats_agg_mor`.
  */
class StatsTombScopeSpec extends SparkFunSuite {
  import spark.implicits._

  private def fs(t: String) =
    new HPath(t).getFileSystem(spark.sessionState.newHadoopConf())

  private def statsServed(df: org.apache.spark.sql.DataFrame): Boolean =
    df.queryExecution.executedPlan.toString
      .contains("PushedAggregation: [stats-complete]")

  test("generation scoping: files newer than the tombstone stay stats-served") {
    val t = s"${tempDir("tombscope-gen")}/t"
    spark.sql("DROP TABLE IF EXISTS graft_cat.default.tsg_t")
    spark.sql(s"""CREATE TABLE graft_cat.default.tsg_t
      (id BIGINT, v DOUBLE, pc STRING)
      USING `graft-delim` PARTITIONED BY (pc) LOCATION '$t'""")
    (1L to 20L).map(i => (i, i.toDouble, "a")).toDF("id", "v", "pc")
      .coalesce(1).writeTo("graft_cat.default.tsg_t").append() // gen 1
    // UNSCOPED delete predicate (no partition conjunct): every file at
    // gen <= 2 is uncertain
    spark.sql("DELETE FROM graft_cat.default.tsg_t WHERE v > 15.0") // gen 2
    val m = DelimLog.readManifest(fs(t), new HPath(t)).get
    assert(m.tombstones.size == 1 && m.tombstones.head._1 == 2L)
    // a NEWER generation lands a fresh partition
    (100L to 110L).map(i => (i, i.toDouble, "b")).toDF("id", "v", "pc")
      .coalesce(1).writeTo("graft_cat.default.tsg_t").append() // gen 3
    def rd = spark.read.format("graft-delim")
      .schema("id BIGINT, v DOUBLE, pc STRING").load(t)
    // gen-3 files postdate the tombstone (rows written after a delete
    // are never re-deleted): their stats stay authoritative
    val b = rd.filter($"pc" === "b")
      .agg(count(lit(1)).as("n"), min($"id").as("mn"), max($"id").as("mx"))
    assert(statsServed(b),
      "files newer than the tombstone must stay stats-served:\n" +
        b.queryExecution.executedPlan.toString)
    assert(b.collect()(0).toSeq == Seq(11L, 100L, 110L))
    // gen-1 files are uncertain under the unscoped tombstone: the
    // metadata path declines and the scan excludes the deleted rows
    val a = rd.filter($"pc" === "a")
      .agg(count(lit(1)).as("n"), min($"id").as("mn"), max($"id").as("mx"))
    assert(!statsServed(a),
      "tombstone-covered files must not be stats-served")
    assert(a.collect()(0).toSeq == Seq(15L, 1L, 15L))
    // the WHOLE-table aggregate mixes certain and uncertain files:
    // still suppressed, still exact
    val all = rd.agg(count(lit(1)).as("n"))
    assert(!statsServed(all))
    assert(all.collect()(0).getLong(0) == 26L)
  }

  test("partition scoping: a partition-conjunct delete leaves siblings stats-served") {
    val t = s"${tempDir("tombscope-part")}/t"
    spark.sql("DROP TABLE IF EXISTS graft_cat.default.tsp_t")
    spark.sql(s"""CREATE TABLE graft_cat.default.tsp_t
      (id BIGINT, v DOUBLE, pc STRING)
      USING `graft-delim` PARTITIONED BY (pc) LOCATION '$t'""")
    (1L to 30L).map(i => (i, i.toDouble, if (i % 2 == 0) "x" else "y"))
      .toDF("id", "v", "pc")
      .coalesce(1).writeTo("graft_cat.default.tsp_t").append()
    spark.sql(
      "DELETE FROM graft_cat.default.tsp_t WHERE pc = 'x' AND v > 20.0")
    assert(DelimLog.readManifest(fs(t), new HPath(t)).get.tombstones.size == 1)
    def rd = spark.read.format("graft-delim")
      .schema("id BIGINT, v DOUBLE, pc STRING").load(t)
    val y = rd.filter($"pc" === "y").agg(count(lit(1)).as("n"))
    assert(statsServed(y),
      "a partition the delete predicate contradicts must stay stats-served")
    assert(y.collect()(0).getLong(0) == 15L)
    val x = rd.filter($"pc" === "x").agg(count(lit(1)).as("n"))
    assert(!statsServed(x))
    assert(x.collect()(0).getLong(0) == 10L)
  }
}
