package graft.sources.v2

import org.apache.spark.sql.catalyst.plans.logical.{Join, LogicalPlan}
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation

import graft.SparkFunSuite

/** CBO column statistics from the manifest's per-file NDV estimates:
  * the recorded distinct counts must reach the logical plan's
  * attribute stats and drive cost-based join reordering without any
  * hints — the join whose key cardinality proves it selective runs
  * first.
  */
class CboNdvSpec extends SparkFunSuite {

  private def mk(t: String, df: org.apache.spark.sql.DataFrame): Unit =
    df.coalesce(1).write.format("graft-delim").mode("overwrite").save(t)

  test("manifest NDV reaches attributeStats and orders a 3-table join") {
    val dir = tempDir("cbo-ndv")
    // fact: 20k rows; a_key nearly unique (high ndv), b_key 10 values
    mk(s"$dir/fact", spark.range(0L, 20000L).selectExpr(
      "id", "id % 10000 as a_key", "id % 10 as b_key"))
    // dimA: 100 keys — the SELECTIVE join (est 20000*100/10000 = 200)
    mk(s"$dir/dima", spark.range(0L, 100L).selectExpr(
      "id as a_key", "id * 2 as a_val"))
    // dimB: 10 keys — est 20000*10/10 = 20000 (not selective)
    mk(s"$dir/dimb", spark.range(0L, 10L).selectExpr(
      "id as b_key", "id * 3 as b_val"))
    def rd(name: String, ddl: String) = spark.read.format("graft-delim")
      .schema(ddl).load(s"$dir/$name")
    val fact = rd("fact", "id BIGINT, a_key BIGINT, b_key BIGINT")
    val dima = rd("dima", "a_key BIGINT, a_val BIGINT")
    val dimb = rd("dimb", "b_key BIGINT, b_val BIGINT")
    val confs = Seq(
      "spark.sql.cbo.enabled" -> "true",
      "spark.sql.cbo.joinReorder.enabled" -> "true",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1")
    val saved = confs.map { case (k, _) =>
      k -> spark.conf.getOption(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      // syntactically the UNSELECTIVE join comes first
      val q = fact.join(dimb, "b_key").join(dima, "a_key")
        .groupBy().sum("a_val", "b_val")
      val optimized = q.queryExecution.optimizedPlan
      // (1) the scans expose our distinct counts to the planner
      val scans = optimized.collect {
        case r: DataSourceV2ScanRelation => r }
      assert(scans.size == 3)
      scans.foreach { r =>
        val st = r.stats
        assert(st.rowCount.isDefined, s"rowCount missing for ${r.scan}")
        assert(st.attributeStats.nonEmpty,
          s"attributeStats empty for ${r.scan}: NDV did not reach the plan")
      }
      val byRows = scans.map(r => r.stats.rowCount.get.toLong).sorted
      assert(byRows == Seq(10L, 100L, 20000L))
      // distinct counts within HLL tolerance of the truth
      val factScan = scans.find(_.stats.rowCount.get.toLong == 20000L).get
      val ndvs = factScan.stats.attributeStats.map { case (a, cs) =>
        a.name -> cs.distinctCount.map(_.toLong).getOrElse(-1L) }.toMap
      assert(math.abs(ndvs("a_key") - 10000L) < 1500L, s"a_key ndv ${ndvs("a_key")}")
      assert(math.abs(ndvs("b_key") - 10L) <= 2L, s"b_key ndv ${ndvs("b_key")}")
      // (2) reorder put the SELECTIVE (dimA) join innermost, despite
      // the syntactic order joining dimB first
      def innermostJoinTables(p: LogicalPlan): Seq[String] = {
        val joins = p.collect { case j: Join => j }
        assert(joins.size == 2, s"expected 2 joins:\n$optimized")
        val inner = joins.last // deepest in collect order
        inner.collect { case r: DataSourceV2ScanRelation =>
          r.stats.rowCount.get.toLong.toString }
      }
      val innerTables = innermostJoinTables(optimized)
      assert(innerTables.contains("100"),
        s"CBO did not reorder the selective dimA join innermost; " +
          s"inner join over rowcounts $innerTables\n$optimized")
      // (3) and the answer is right
      val row = q.collect()(0)
      assert(row.getLong(0) == (0L until 20000L).filter(_ % 10000 < 100)
        .map(i => (i % 10000) * 2).sum)
      // only rows surviving the dimA join (a_key < 100) contribute
      assert(row.getLong(1) == (0L until 20000L).filter(_ % 10000 < 100)
        .map(i => (i % 10) * 3).sum)
    } finally saved.foreach { case (k, v) =>
      v match { case Some(x) => spark.conf.set(k, x)
                case None => spark.conf.unset(k) } }
  }

  test("compaction merges NDV, so column stats survive OPTIMIZE") {
    val t = s"${tempDir("cbo-compact")}/t"
    for (b <- 0 until 4)
      spark.range(b * 500L, (b + 1) * 500L)
        .selectExpr("id", "id % 10 as k")
        .coalesce(1).write.format("graft-delim")
        .mode(if (b == 0) "overwrite" else "append").save(t)
    DelimCompact.compact(spark, t)
    val fs = new org.apache.hadoop.fs.Path(t)
      .getFileSystem(spark.sessionState.newHadoopConf())
    val m = DelimLog.readManifest(fs, new org.apache.hadoop.fs.Path(t)).get
    assert(m.files.size == 1)
    val listed = DelimV2.listedFromManifest(
      new org.apache.hadoop.fs.Path(t), m)
    val cs = listed.head.stats.cols
    assert(cs("id").ndv >= 0L && cs("k").ndv >= 0L,
      s"compaction dropped the NDV estimates: $cs")
    // merged bound: id near-unique (<= rows), k capped by the sum rule
    assert(math.abs(cs("id").ndv - 2000L) < 300L, s"id ndv ${cs("id").ndv}")
    assert(cs("k").ndv <= 40L && cs("k").ndv >= 10L, s"k ndv ${cs("k").ndv}")
    val df = spark.read.format("graft-delim").schema("id BIGINT, k BIGINT")
      .load(t)
    import org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation
    val scan = df.queryExecution.optimizedPlan.collect {
      case r: DataSourceV2ScanRelation => r }.head
    assert(scan.stats.attributeStats.nonEmpty,
      "column stats must survive OPTIMIZE")
  }
}
