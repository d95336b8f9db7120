package graft.stream

import org.apache.spark.sql.functions._

import graft.SparkFunSuite

/** The ListState/MapState profile machine: correctness of the bounded
  * top-k + type counts across micro-batches (the oracle certifies the
  * same at the query gate), and — the part the oracle deliberately
  * CANNOT see because the certification run's TTL never fires — that a
  * sub-trigger TTL actually EVICTS state between batches.
  */
class UserProfileTwsSpec extends SparkFunSuite {

  private def mkRows = Seq(
    // user 1: 4 events, 2 types; top-3 by (value DESC, event_id DESC)
    // = 9.0(e4), 7.0(e2), 5.0(e1) → sum 21.0; top event_id 4
    (1L, "click", 5.0, 1L), (1L, "view", 7.0, 2L),
    (1L, "click", 1.0, 3L), (1L, "view", 9.0, 4L),
    // user 2: the tie — equal values 3.0 broken by event_id DESC, so
    // top_event_id must be 12 (not 11)
    (2L, "click", 3.0, 11L), (2L, "click", 3.0, 12L))

  private def runProfiles(
      ttl: java.time.Duration): Map[Long, (Long, Long, Double, Long)] = {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("profile_tws").toString
    val df = mkRows.toDF("user_id", "event_type", "value", "event_id")
    // chunk on event_id so both users span BOTH micro-batches (state
    // must carry across triggers — or, under the tiny TTL, expire)
    val src = StreamRun.chunkedSource(spark, df, s"$root/src", 2, tsCol = "event_id")
    val ev = src.as[UserProfileTws.Event]
    StreamRun.runAvailableNow(
        UserProfileTws.profiles(ev, k = 3, ttl = ttl).toDF(), s"$root/run",
        StreamRun.Sink.Update)._1
      .groupBy(col("user_id"))
      .agg(max_by(struct(col("n_events"), col("n_types"), col("top3_sum"),
        col("top_event_id")), col("batch_id")).as("p"))
      .collect()
      .map(r => r.getLong(0) -> {
        val p = r.getStruct(1)
        (p.getLong(0), p.getLong(1), p.getDouble(2), p.getLong(3))
      })
      .toMap
  }

  test("map+list state accumulate across batches; top-k tie-breaks on event_id") {
    val got = runProfiles(java.time.Duration.ofHours(1))
    assert(got(1L) == ((4L, 2L, 21.0, 4L)), got)
    assert(got(2L) == ((2L, 1L, 6.0, 12L)), got)
  }

  test("a sub-trigger TTL evicts state between micro-batches") {
    // 1 ms TTL: everything batch 1 wrote has expired by the time batch 2
    // reads it (micro-batches are 100+ ms apart), so each user's final
    // profile reflects ONLY their batch-2 rows. The range chunking on
    // event_id splits [e1,e2,e3] / [e4,e11,e12], so batch 2 holds
    // (1,view,9.0,e4), (2,click,3.0,e11), (2,click,3.0,e12) —
    // user 1: 1 event, 1 type, sum 9.0, top e4; user 2: 2 events,
    // 1 type, sum 6.0, top e12. (Compare the accumulate test: same data,
    // non-firing TTL, user 1 = (4, 2, 21.0) — the delta IS the eviction.)
    val got = runProfiles(java.time.Duration.ofMillis(1))
    assert(got(1L) == ((1L, 1L, 9.0, 4L)), got)
    assert(got(2L) == ((2L, 1L, 6.0, 12L)), got)
  }
}
