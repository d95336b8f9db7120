package graft

class GraftSessionSpec extends SparkFunSuite {

  test("attach registers warehouse views queryable from SQL") {
    val views = GraftSession.attach(spark, sf001)
    assert(views.contains("lineitem") && views.contains("events"))
    val n = spark.sql("SELECT count(*) AS n FROM lineitem").collect()(0).getLong(0)
    assert(n == 6000L)
    // events view carries the normalized (non-nanos) timestamp
    assert(spark.sql("SELECT ts FROM events LIMIT 1").schema("ts")
      .dataType.typeName == "timestamp")
  }

  test("readEventStream's streaming source carries the normalized ts schema") {
    // the STREAMING entry point normalizes independently of the batch
    // loader (TablesSpec pins that one) — a fixture flavor drift must
    // not leave readStream consumers with a non-TimestampType ts
    val st = stream.EventWindows.readEventStream(spark, s"$sf001/events.parquet")
    assert(st.isStreaming)
    val ts = st.schema("ts").dataType
    assert(ts == org.apache.spark.sql.types.TimestampType, s"got $ts")
  }

  test("normalizeEvents refuses a non-UTC session on NTZ input") {
    // the NTZ→timestamp cast silently shifts values under any other
    // zone — the loader must fail loudly instead
    import org.apache.spark.sql.functions._
    val df = spark.range(1)
      .select(col("id"), lit("2024-01-01 00:00:00").cast("timestamp_ntz").as("ts"))
    val prev = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", "America/New_York")
    try {
      val e = intercept[IllegalArgumentException] { core.Tables.normalizeEvents(df) }
      assert(e.getMessage.contains("UTC"))
    } finally spark.conf.set("spark.sql.session.timeZone", prev)
  }

  test("custom kernels are callable from SQL after configure") {
    val n = spark.newSession()
    val d = n.sql(
      "SELECT graft_dot(array(1.0F, 2.0F), array(3.0F, 4.0F)) AS d")
      .collect()(0).getDouble(0)
    assert(d == 11.0)
    val f = n.sql(
      "SELECT graft_first_equal_index(array(1L, 5L, 7L), array(2L, 5L, 7L)) AS i")
      .collect()(0).getInt(0)
    assert(f == 1)
  }

  test("a newSession has graft's functions and late rules, whatever session is active") {
    import org.apache.spark.sql.SparkSession
    import org.apache.spark.sql.execution.FormattedMode
    import org.apache.spark.sql.functions._
    val prev = SparkSession.getActiveSession
    SparkSession.setActiveSession(spark)
    try {
      val n = spark.newSession()
      // column helpers resolve on the DataFrame's own session
      val params = ext.Dedup.MinHashParams()
      def sigs(s: SparkSession) = s.createDataFrame(Seq(Tuple1("a b c d"), Tuple1("c d e")))
        .select(ext.Dedup.minhashSignature(
          ext.Text.hashedShingleSet(col("_1"), params.shingleN), params).as("sig"))
        .collect().map(_.getSeq[Long](0)).toSeq
      val onN = sigs(n)
      assert(onN.forall(_.length == params.k))
      assert(onN == sigs(spark))
      val d = n.range(1).select(ext.SimSearch.dot(
        array(lit(1.0f), lit(2.0f)), array(lit(3.0f), lit(4.0f)))).head().getDouble(0)
      assert(d == 11.0)
      // the Count-Min trio from SQL
      assert(n.sql("SELECT graft_cms_estimate(graft_cms_build(id), 1) FROM range(10)")
        .head().getLong(0) == 1L)
      // the late range-join copy catches the decorrelated NOT EXISTS,
      // and the as-of rule collapses the correlated max-subquery, with
      // no setting on `n`
      core.Tables.events(n, sf001).createOrReplaceTempView("ns_events")
      val plan = n.sql(certs.AsOfCerts.rangeAntiJoinSql("ns_events"))
        .queryExecution.explainString(FormattedMode)
      assert(plan.contains("_graft_pbucket"), plan)
      core.Tables.orders(n, sf001).createOrReplaceTempView("ns_orders")
      val asof = n.sql(certs.AsOfCerts.asofSqlText("ns_events", "ns_orders"))
        .queryExecution.optimizedPlan
      assert(asof.collect { case p: plans.AsOfJoinPlan => p }.nonEmpty, asof)
    } finally prev match {
      case Some(s) => SparkSession.setActiveSession(s)
      case None => SparkSession.clearActiveSession()
    }
  }
}
