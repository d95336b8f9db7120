package graft

import org.apache.spark.sql.functions._

/** Runtime-adaptive planner certifications — the two levers beyond
  * static plan shape that a 100 TB deployment leans on:
  *
  *  - AQE SKEW-JOIN: a shuffled join with one hot key must be split at
  *    RUNTIME into subpartitions (the `skew=true` sort-merge join),
  *    not left as one straggler task. STRESS.md measures what a hot
  *    key costs when an operator CANNOT split (per-key session state);
  *    this certifies the engine's sessions let AQE split it when it
  *    can (plain joins). Thresholds are scaled to fixture bytes — the
  *    defaults (256 MB) are production-sized by design.
  *
  *  - ANALYZE TABLE statistics: the catalog stats pipeline the
  *    cost-based optimizer reads. After `ANALYZE ... COMPUTE
  *    STATISTICS`, the optimizer's row-count estimate for a catalog
  *    table scan must be the EXACT analyzed count (not a bytes-based
  *    guess), under `spark.sql.cbo.enabled` — the input every
  *    stats-driven join decision (reorder, broadcast) consumes.
  */
class AdaptivePlannerSpec extends SparkFunSuite {

  private def withConf[A](pairs: (String, String)*)(body: => A): A = {
    val prev = pairs.map { case (k, _) => k -> spark.conf.getOption(k) }
    pairs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None)    => spark.conf.unset(k)
    }
  }

  test("AQE splits a hot-key shuffle join at runtime (skew=true)") {
    // 90% of the left lands on key 7 → one shuffle partition ~9x the
    // median; right side is unique-keyed so the join output stays at
    // left's row count. The padding column gives the hot partition
    // enough BYTES to cross the (lowered) skew threshold.
    val left = spark.range(0, 200000).select(
      when(col("id") % 10 =!= 0, lit(7L)).otherwise(col("id") % 1000).as("k"),
      concat(lit("x" * 64), col("id").cast("string")).as("pad"))
    val right = spark.range(0, 1000).select(col("id").as("k"),
      col("id").cast("string").as("w"))
    withConf(
      "spark.sql.adaptive.enabled" -> "true",
      "spark.sql.adaptive.skewJoin.enabled" -> "true",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "65536",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "65536",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "2",
      // force the shuffled path: a broadcast join has no skew to split
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.autoBroadcastJoinThreshold" -> "-1") {
      val df = left.join(right, "k")
      // execute THIS frame (count() would spin up its own QueryExecution
      // and leave df's adaptive plan unfinalized)
      assert(df.collect().length == 200000, "unique right keys: output = left rows")
      // the executed (finalized) adaptive plan must carry the skew split
      val executed = df.queryExecution.executedPlan.toString
      assert(executed.contains("skew=true"),
        s"hot key was not split by AQE skew join:\n$executed")
    }
  }

  test("ANALYZE TABLE stats drive the optimizer's exact row-count estimate") {
    val wh = certs.CertSupport.scratchDir("stats_cat")
    spark.sql("DROP TABLE IF EXISTS graft_stats_cat")
    core.Scratch.rmTree(wh)
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(wh))
    spark.sql(
      s"""CREATE TABLE graft_stats_cat (k BIGINT, v STRING)
         |USING parquet LOCATION '$wh'""".stripMargin)
    spark.range(0, 4321).select(col("id").as("k"),
        col("id").cast("string").as("v"))
      .write.mode("overwrite").insertInto("graft_stats_cat")
    spark.sql("ANALYZE TABLE graft_stats_cat COMPUTE STATISTICS")
    withConf("spark.sql.cbo.enabled" -> "true") {
      val est = spark.table("graft_stats_cat")
        .queryExecution.optimizedPlan.stats.rowCount
      assert(est.contains(BigInt(4321)),
        s"optimizer did not read the analyzed row count: $est")
    }
    spark.sql("DROP TABLE graft_stats_cat")
  }
}
