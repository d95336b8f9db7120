package graft.plans

import graft.SparkFunSuite
import java.sql.Timestamp

class AsOfRewriteSpec extends SparkFunSuite {
  import spark.implicits._

  private def ts(s: String) = Timestamp.valueOf(s)

  /** `body` with the rule left out: the domain-join reference. */
  private def ruleOff[A](body: => A): A =
    GraftExtensions.withoutRule(spark, classOf[AsOfRewriteRule])(body)

  private lazy val ready: Unit = {
    Seq(
      (1L, 10L, ts("2024-01-01 10:30:00"), "t1"),
      (1L, 10L, ts("2024-01-01 11:00:00"), "t2"),
      (1L, 20L, ts("2024-01-01 09:00:00"), "t3"),
      (2L, 10L, ts("2024-01-01 12:00:00"), "t4"),
      (3L, 10L, ts("2024-01-01 12:00:00"), "t5")
    ).toDF("k", "k2", "t", "id").createOrReplaceTempView("asof_l")
    Seq(
      (1L, 10L, ts("2024-01-01 10:00:00")),
      (1L, 10L, ts("2024-01-01 11:00:00")),
      (1L, 20L, ts("2024-01-01 08:00:00")),
      (2L, 10L, ts("2024-01-01 10:30:00"))
    ).toDF("rk", "rk2", "rt").createOrReplaceTempView("asof_r")
  }

  private def fired(df: org.apache.spark.sql.DataFrame): Boolean =
    df.queryExecution.optimizedPlan.collect { case p: AsOfJoinPlan => p }.nonEmpty

  /** Run `sql` as written and with the rule excluded; assert identical
    * sorted results, and that the rewrite fired (or not) as expected.
    */
  private def check(sql: String, expectFire: Boolean): Unit = {
    ready
    val off = ruleOff {
      val df = spark.sql(sql)
      assert(!fired(df), s"excluded rule still fired:\n${df.queryExecution.optimizedPlan}")
      df.collect().map(_.toString).sorted.toSeq
    }
    val df = spark.sql(sql)
    assert(fired(df) == expectFire,
      s"expected fire=$expectFire:\n${df.queryExecution.optimizedPlan}")
    val on = df.collect().map(_.toString).sorted.toSeq
    assert(on == off, s"rewrite changed the answer for:\n$sql")
  }

  test("backward max/<= fires and preserves the answer") {
    check("""SELECT l.id,
             (SELECT max(r.rt) FROM asof_r r
              WHERE r.rk = l.k AND r.rt <= l.t) AS m
             FROM asof_l l""", expectFire = true)
  }

  test("forward min/>= fires and preserves the answer") {
    check("""SELECT l.id,
             (SELECT min(r.rt) FROM asof_r r
              WHERE r.rk = l.k AND r.rt >= l.t) AS m
             FROM asof_l l""", expectFire = true)
  }

  test("composite key fires and preserves the answer") {
    check("""SELECT l.id,
             (SELECT max(r.rt) FROM asof_r r
              WHERE r.rk = l.k AND r.rk2 = l.k2 AND r.rt <= l.t) AS m
             FROM asof_l l""", expectFire = true)
  }

  test("two-key forward min/>= fires and preserves the answer") {
    check("""SELECT l.id,
             (SELECT min(r.rt) FROM asof_r r
              WHERE r.rk = l.k AND r.rk2 = l.k2 AND r.rt >= l.t) AS m
             FROM asof_l l""", expectFire = true)
  }

  test("backward tolerance conjunct fires and preserves the answer") {
    check("""SELECT l.id,
             (SELECT max(r.rt) FROM asof_r r
              WHERE r.rk = l.k AND r.rt <= l.t
                AND r.rt >= l.t - INTERVAL 1 HOUR) AS m
             FROM asof_l l""", expectFire = true)
  }

  test("forward tolerance conjunct fires and preserves the answer") {
    check("""SELECT l.id,
             (SELECT min(r.rt) FROM asof_r r
              WHERE r.rk = l.k AND r.rt >= l.t
                AND r.rt <= l.t + INTERVAL 2 HOUR) AS m
             FROM asof_l l""", expectFire = true)
  }

  test("STRICT tolerance bound fires with the 1µs tightening") {
    // t1 (10:30) has its backward match at exactly t − 30 min (10:00):
    // the strict bound excludes it, so both sides must agree on NULL —
    // the rewrite maps `> t − 30min` to toleranceMicros = 30min − 1µs
    check("""SELECT l.id,
             (SELECT max(r.rt) FROM asof_r r
              WHERE r.rk = l.k AND r.rt <= l.t
                AND r.rt > l.t - INTERVAL 30 MINUTE) AS m
             FROM asof_l l""", expectFire = true)
  }

  test("tolerance shifted the wrong way does not fire") {
    // `rt >= t + 1 HOUR` contradicts the backward bound rather than
    // tightening it — not a tolerance; the rewrite must leave it alone
    check("""SELECT l.id,
             (SELECT max(r.rt) FROM asof_r r
              WHERE r.rk = l.k AND r.rt <= l.t
                AND r.rt >= l.t + INTERVAL 1 HOUR) AS m
             FROM asof_l l""", expectFire = false)
  }

  test("aggregate over a cast preserves the output type") {
    ready
    graft.core.Tables.events(spark, sf001)
      .createOrReplaceTempView("asof_ev_c")
    graft.core.Tables.orders(spark, sf001)
      .createOrReplaceTempView("asof_ord_c")
    // max(CAST(date AS TIMESTAMP)): maxAttr is TIMESTAMP but the raw
    // payload attr is DATE — the substitution must re-apply the cast
    // (same exprId + silently different type broke downstream binding)
    val sql = """SELECT e.event_id,
                 (SELECT max(CAST(o.o_orderdate AS TIMESTAMP)) FROM asof_ord_c o
                  WHERE o.o_custkey = e.user_id AND o.o_orderdate <= e.ts) AS m
                 FROM asof_ev_c e"""
    val off = spark.sql(sql)
    assert(off.schema("m").dataType == org.apache.spark.sql.types.TimestampType)
    check(sql, expectFire = true)
    val on = spark.sql(sql)
    assert(on.schema("m").dataType ==
      org.apache.spark.sql.types.TimestampType,
      "rewrite changed the output type of the aggregate alias")
  }

  test("PROVENANCE: a domain built from another table does not fire") {
    ready
    // The advisor's counterexample, written as explicit joins: the same
    // Project(Join(l, Aggregate(..., Join(Aggregate, r)))) sandwich the
    // rule matches, except the "domain" is DISTINCT rk2 FROM asof_r —
    // another table. Left rows whose t is absent from that value set
    // get NULL here; an as-of rewrite would hand them real matches.
    val sql = """SELECT l.id, agg.m
                 FROM asof_l l
                 LEFT JOIN (
                   SELECT d.dom, r.rk, max(r.rt) AS m
                   FROM (SELECT DISTINCT CAST(rk2 AS TIMESTAMP) AS dom
                         FROM asof_r) d
                   JOIN asof_r r ON r.rt <= d.dom
                   GROUP BY d.dom, r.rk) agg
                 ON agg.dom <=> l.t AND agg.rk = l.k"""
    check(sql, expectFire = false)
  }

  test("strict inequality is not an inclusive as-of: no fire") {
    check("""SELECT l.id,
             (SELECT max(r.rt) FROM asof_r r
              WHERE r.rk = l.k AND r.rt < l.t) AS m
             FROM asof_l l""", expectFire = false)
  }

  test("mismatched direction (min with <=) does not fire") {
    check("""SELECT l.id,
             (SELECT min(r.rt) FROM asof_r r
              WHERE r.rk = l.k AND r.rt <= l.t) AS m
             FROM asof_l l""", expectFire = false)
  }

  test("no equi key does not fire") {
    check("""SELECT l.id,
             (SELECT max(r.rt) FROM asof_r r
              WHERE r.rt <= l.t) AS m
             FROM asof_l l""", expectFire = false)
  }

  test("aggregate over a different column does not fire") {
    check("""SELECT l.id,
             (SELECT max(r.rk2) FROM asof_r r
              WHERE r.rk = l.k AND r.rt <= l.t) AS m
             FROM asof_l l""", expectFire = false)
  }

  /** Lateral variant of [[check]]: additionally pins that the fired
    * plan carries NO ranking machinery — the Window/WindowGroupLimit
    * sandwich must be gone, not merely topped by the operator.
    */
  private def checkLateral(sql: String, expectFire: Boolean): Unit = {
    check(sql, expectFire)
    if (expectFire) {
      val plan = spark.sql(sql).queryExecution.optimizedPlan
      val leftover = plan.collect {
        case w: org.apache.spark.sql.catalyst.plans.logical.Window => w
        case w: org.apache.spark.sql.catalyst.plans.logical.WindowGroupLimit => w
      }
      assert(leftover.isEmpty, s"ranking sandwich survived the rewrite:\n$plan")
    }
  }

  test("LATERAL top-1 backward fires with the payload riding through") {
    checkLateral("""SELECT l.id, q.rk2, q.rt
             FROM asof_l l, LATERAL (
               SELECT rk2, rt FROM asof_r r
               WHERE r.rk = l.k AND r.rt <= l.t
               ORDER BY r.rt DESC LIMIT 1) q""", expectFire = true)
  }

  test("LATERAL top-1 forward fires (ASC with >=)") {
    checkLateral("""SELECT l.id, q.rk2, q.rt
             FROM asof_l l, LATERAL (
               SELECT rk2, rt FROM asof_r r
               WHERE r.rk = l.k AND r.rt >= l.t
               ORDER BY r.rt ASC LIMIT 1) q""", expectFire = true)
  }

  test("LATERAL composite key fires") {
    checkLateral("""SELECT l.id, q.rt
             FROM asof_l l, LATERAL (
               SELECT rt FROM asof_r r
               WHERE r.rk = l.k AND r.rk2 = l.k2 AND r.rt <= l.t
               ORDER BY r.rt DESC LIMIT 1) q""", expectFire = true)
  }

  test("LATERAL mismatched sort direction does not fire") {
    // latest-at-or-AFTER is not an as-of match; must stay untouched
    checkLateral("""SELECT l.id, q.rt
             FROM asof_l l, LATERAL (
               SELECT rt FROM asof_r r
               WHERE r.rk = l.k AND r.rt >= l.t
               ORDER BY r.rt DESC LIMIT 1) q""", expectFire = false)
  }

  test("LATERAL LIMIT 2 does not fire (top-1 only)") {
    checkLateral("""SELECT l.id, q.rt
             FROM asof_l l, LATERAL (
               SELECT rt FROM asof_r r
               WHERE r.rk = l.k AND r.rt <= l.t
               ORDER BY r.rt DESC LIMIT 2) q""", expectFire = false)
  }

  test("LATERAL sort on a non-theta column does not fire") {
    checkLateral("""SELECT l.id, q.rk2
             FROM asof_l l, LATERAL (
               SELECT rk2, rt FROM asof_r r
               WHERE r.rk = l.k AND r.rt <= l.t
               ORDER BY r.rk2 DESC LIMIT 1) q""", expectFire = false)
  }

  test("LATERAL strict theta does not fire") {
    checkLateral("""SELECT l.id, q.rt
             FROM asof_l l, LATERAL (
               SELECT rt FROM asof_r r
               WHERE r.rk = l.k AND r.rt < l.t
               ORDER BY r.rt DESC LIMIT 1) q""", expectFire = false)
  }

  test("LATERAL inner semantics: null keys/times and no-match lefts drop") {
    ready
    Seq((1L, Some(ts("2024-01-01 10:30:00")), "a"), // matches t1's quote
      (1L, None, "b"), // null left time: no candidates either way
      (99L, Some(ts("2024-01-01 10:30:00")), "c"), // unknown key: dropped
      (2L, Some(ts("2024-01-01 09:00:00")), "d") // key exists, all rts after
    ).toDF("k", "t", "id").createOrReplaceTempView("asof_lat_l")
    checkLateral("""SELECT l.id, q.rt
             FROM asof_lat_l l, LATERAL (
               SELECT rt FROM asof_r r
               WHERE r.rk = l.k AND r.rt <= l.t
               ORDER BY r.rt DESC LIMIT 1) q""", expectFire = true)
    // only 'a' survives either path — pin the absolute answer too, not
    // just on-vs-off equality
    val rows = spark.sql("""SELECT l.id FROM asof_lat_l l, LATERAL (
             SELECT rt FROM asof_r r
             WHERE r.rk = l.k AND r.rt <= l.t
             ORDER BY r.rt DESC LIMIT 1) q""").collect().map(_.getString(0))
    assert(rows.toSeq == Seq("a"))
  }

  test("LATERAL tolerance conjunct fires and preserves the answer") {
    checkLateral("""SELECT l.id, q.rk2, q.rt
             FROM asof_l l, LATERAL (
               SELECT rk2, rt FROM asof_r r
               WHERE r.rk = l.k AND r.rt <= l.t
                 AND r.rt >= l.t - INTERVAL 1 HOUR
               ORDER BY r.rt DESC LIMIT 1) q""", expectFire = true)
  }

  test("LATERAL strict tolerance fires (1µs tightening)") {
    checkLateral("""SELECT l.id, q.rt
             FROM asof_l l, LATERAL (
               SELECT rt FROM asof_r r
               WHERE r.rk = l.k AND r.rt <= l.t
                 AND r.rt > l.t - INTERVAL 30 MINUTE
               ORDER BY r.rt DESC LIMIT 1) q""", expectFire = true)
  }

  test("LATERAL tolerance shifted the wrong way does not fire") {
    // a bound ABOVE the as-of time is not a backward tolerance
    checkLateral("""SELECT l.id, q.rt
             FROM asof_l l, LATERAL (
               SELECT rt FROM asof_r r
               WHERE r.rk = l.k AND r.rt <= l.t
                 AND r.rt >= l.t + INTERVAL 1 HOUR
               ORDER BY r.rt DESC LIMIT 1) q""", expectFire = false)
  }

  test("LEFT JOIN LATERAL fires WITHOUT the inner filter: no-match lefts kept") {
    ready
    checkLateral("""SELECT l.id, q.rk2, q.rt
             FROM asof_l l LEFT OUTER JOIN LATERAL (
               SELECT rk2, rt FROM asof_r r
               WHERE r.rk = l.k AND r.rt <= l.t
               ORDER BY r.rt DESC LIMIT 1) q ON true""", expectFire = true)
    // a left key with no right rows must SURVIVE with nulls (t5: k=3)
    val rows = spark.sql("""SELECT l.id, q.rt
           FROM asof_l l LEFT OUTER JOIN LATERAL (
             SELECT rt FROM asof_r r
             WHERE r.rk = l.k AND r.rt <= l.t
             ORDER BY r.rt DESC LIMIT 1) q ON true""").collect()
    assert(rows.length == 5, "left-outer lateral must keep every left row")
    val t5 = rows.find(_.getString(0) == "t5").get
    assert(t5.isNullAt(1), "no-match left must carry a NULL payload")
  }

  test("null keys and times keep SQL semantics through the rewrite") {
    ready
    Seq(
      (Option(1L), Option(ts("2024-01-01 11:00:00")), "a"),
      (Option.empty[Long], Option(ts("2024-01-01 11:00:00")), "b"),
      (Option(1L), Option.empty[Timestamp], "c")
    ).toDF("k", "t", "id").createOrReplaceTempView("asof_ln")
    Seq(
      (Option(1L), Option(ts("2024-01-01 10:00:00"))),
      (Option.empty[Long], Option(ts("2024-01-01 10:00:00"))),
      (Option(1L), Option.empty[Timestamp])
    ).toDF("rk", "rt").createOrReplaceTempView("asof_rn")
    check("""SELECT l.id,
             (SELECT max(r.rt) FROM asof_rn r
              WHERE r.rk = l.k AND r.rt <= l.t) AS m
             FROM asof_ln l""", expectFire = true)
  }

  test("date/timestamp mix fires (fixture shape) and matches") {
    ready
    graft.core.Tables.events(spark, sf001)
      .createOrReplaceTempView("asof_ev")
    graft.core.Tables.orders(spark, sf001)
      .createOrReplaceTempView("asof_ord")
    check("""SELECT e.event_id,
             (SELECT max(o.o_orderdate) FROM asof_ord o
              WHERE o.o_custkey = e.user_id AND o.o_orderdate <= e.ts) AS m
             FROM asof_ev e""", expectFire = true)
  }

  // Pins an UPSTREAM Spark 4.1.2 defect, not engine behavior: a
  // correlated scalar subquery whose outer table is a Union crashes
  // the optimizer (PushProjectionThroughUnion: NoSuchElementException)
  // BEFORE the late batch this rewrite runs in, so neither rule state
  // can help — reproduced in a bare spark-shell with no graft rules.
  // If a Spark upgrade makes this test fail, the bug is fixed: drop
  // the localCheckpoint workarounds (tools/Stress.scala asofsqlcmp)
  // and this pin together.
  test("UPSTREAM pin: union outer table crashes stock decorrelation") {
    ready
    val ev = graft.core.Tables.events(spark, sf001)
    ev.unionByName(ev.withColumn("event_id", $"event_id" + 1000000L))
      .createOrReplaceTempView("asof_ev_union")
    graft.core.Tables.orders(spark, sf001)
      .createOrReplaceTempView("asof_ord_u")
    val sql = """SELECT e.event_id,
                 (SELECT max(o.o_orderdate) FROM asof_ord_u o
                  WHERE o.o_custkey = e.user_id AND o.o_orderdate <= e.ts) AS m
                 FROM asof_ev_union e"""
    def crash(): Unit = {
      val e = intercept[Exception](spark.sql(sql).collect())
      def msgs(t: Throwable): Seq[String] =
        if (t == null) Nil else Option(t.getMessage).toSeq ++ msgs(t.getCause)
      assert(msgs(e).exists(_.contains("key not found")),
        s"expected the upstream optimizer crash, got: $e")
    }
    ruleOff(crash())
    crash()
    // the documented workaround: flatten the union off the plan
    ev.unionByName(ev.withColumn("event_id", $"event_id" + 1000000L))
      .localCheckpoint().createOrReplaceTempView("asof_ev_union")
    val df = spark.sql(sql)
    assert(fired(df), "rewrite should fire post-flatten")
    assert(df.count() > 0)
  }

  // parquet-backed twins of the fixture views: a LocalRelation folds
  // the `IS NOT NULL` filters into itself, which erases the
  // null-evidence the nearest grammar requires (the same reason DPP
  // specs can't use local relations)
  private lazy val readyNearest: Unit = {
    ready
    val d = tempDir("asof-nearest")
    spark.table("asof_l").write.mode("overwrite").parquet(s"$d/l")
    spark.table("asof_r").write.mode("overwrite").parquet(s"$d/r")
    spark.read.parquet(s"$d/l").createOrReplaceTempView("asof_lp")
    spark.read.parquet(s"$d/r").createOrReplaceTempView("asof_rp")
  }

  private def nearestFired(sql: String): Boolean = {
    readyNearest
    spark.sql(sql).queryExecution.optimizedPlan.collect {
      case p: AsOfJoinPlan if p.nearest => p }.nonEmpty
  }

  /** [[check]] against the parquet-backed views. */
  private def checkNearest(sql: String, expectFire: Boolean): Unit = {
    readyNearest
    check(sql, expectFire)
  }

  test("nearest lateral (ORDER BY abs alias, rt tie-break) fires and preserves the answer") {
    checkNearest("""SELECT l.id, q.rt AS near_rt
             FROM asof_lp l LEFT OUTER JOIN LATERAL (
               SELECT rt, abs(r.rt - l.t) AS d FROM asof_rp r
               WHERE r.rk = l.k AND r.rt IS NOT NULL
               ORDER BY d, rt LIMIT 1) q ON true
             WHERE l.t IS NOT NULL""", expectFire = true)
  }

  test("nearest: equidistant tie resolves to the prior row under the rewrite") {
    ready
    // l.t = 10:30 sits exactly 30m from rt 10:00 and rt 11:00 for
    // (k=1, rk=1): the ASC tie-break picks 10:00 (the prior) in the
    // subquery, and the operator's tie rule must agree
    readyNearest
    val sql = """SELECT l.id, q.rt AS near_rt
                 FROM asof_lp l LEFT OUTER JOIN LATERAL (
                   SELECT rt, abs(r.rt - l.t) AS d FROM asof_rp r
                   WHERE r.rk = l.k AND r.rt IS NOT NULL
                   ORDER BY d, rt LIMIT 1) q ON true
                 WHERE l.t IS NOT NULL AND l.id = 't1'""".stripMargin
    val row = spark.sql(sql).collect().head
    assert(row.getTimestamp(1) === ts("2024-01-01 10:00:00"))
  }

  test("nearest bails without the rt tie-break (nondeterministic pick must not be pinned)") {
    assert(!nearestFired(
      """SELECT l.id, q.rt AS near_rt
         FROM asof_lp l LEFT OUTER JOIN LATERAL (
           SELECT rt, abs(r.rt - l.t) AS d FROM asof_rp r
           WHERE r.rk = l.k AND r.rt IS NOT NULL
           ORDER BY d LIMIT 1) q ON true
         WHERE l.t IS NOT NULL"""))
  }

  test("nearest bails without non-null time evidence (null would win the subquery sort)") {
    // no `l.t IS NOT NULL`: a null left time picks the min-rt candidate
    // in the subquery but never matches the operator — must not rewrite
    assert(!nearestFired(
      """SELECT l.id, q.rt AS near_rt
         FROM asof_lp l LEFT OUTER JOIN LATERAL (
           SELECT rt, abs(r.rt - l.t) AS d FROM asof_rp r
           WHERE r.rk = l.k AND r.rt IS NOT NULL
           ORDER BY d, rt LIMIT 1) q ON true"""))
    // no `r.rt IS NOT NULL`: a null candidate sorts NULLS FIRST and
    // wins in the subquery but is skipped by the operator
    assert(!nearestFired(
      """SELECT l.id, q.rt AS near_rt
         FROM asof_lp l LEFT OUTER JOIN LATERAL (
           SELECT rt, abs(r.rt - l.t) AS d FROM asof_rp r
           WHERE r.rk = l.k
           ORDER BY d, rt LIMIT 1) q ON true
         WHERE l.t IS NOT NULL"""))
  }
}
