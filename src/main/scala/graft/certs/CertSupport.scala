package graft
package certs

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, lit, max, min}

import graft.core.Tables
import graft.stream.StreamRun

/** Helpers shared by more than one certification module, or by tools
  * and tests outside the registry.
  */
object CertSupport {

  /** Fixed per-query scratch dir for the sink-roundtrip queries. A fresh
    * createTempDirectory per invocation accumulated unboundedly (these
    * queries run in the bench warm pass, measured pass, verify, AND plan
    * inspection — the writes execute eagerly at DataFrame-construction
    * time); a fixed path + SaveMode.Overwrite caps the footprint at one
    * copy per query. The root is USER-scoped: on a shared /tmp a fixed
    * unqualified path could be pre-created (and symlinked) by another
    * user, intercepting roundtrip outputs. A per-JVM random root would
    * close the remaining same-user race between concurrent harness
    * processes, but would also reintroduce unbounded accumulation across
    * runs — the harnesses run sequentially, so user-scoping is the
    * balance point. NOTE the eager-write side effect stands: "planning"
    * a roundtrip query performs I/O by design (the sink is the thing
    * under test).
    */
  private[graft] def scratchDir(name: String): String =
    java.nio.file.Paths.get(scratchRoot,
      "graft_scratch-" + sys.props.getOrElse("user.name", "anon"),
      name).toString

  /** Scratch root: `GRAFT_SCRATCH_ROOT` env override, else /dev/shm when
    * it is a writable tmpfs, else java.io.tmpdir. The tmpfs preference is
    * a MEASUREMENT fix, not an engine one: the roundtrip/export queries
    * are scratch-write-bound at fixture scale, and on a disk-backed /tmp
    * their bench times absorb whatever else the box is writing (a
    * disk-backed bench showed 0.4 s → 3.9 s phantom regressions on
    * `sample_limit` from exactly that). Footprint stays capped at one
    * copy per query (fixed paths + overwrite), well under tmpfs size.
    */
  private lazy val scratchRoot: String =
    sys.env.get("GRAFT_SCRATCH_ROOT").orElse {
      Some("/dev/shm").filter(p => new java.io.File(p).canWrite)
    }.getOrElse(sys.props.getOrElse("java.io.tmpdir", "/tmp"))

  private[graft] val TokensSql =
    """list_filter(string_split_regex(lower(text), '\s+'), x -> len(x) > 0)"""

  /** The full events table as a 4-chunk bounded stream source, built in
    * a scratch dir SHARED by every streaming query that consumes the
    * unfiltered table (six of them): the layout is a deterministic
    * function of (source sf dir, chunk count), so per-query dirs were
    * six identical builds per harness pass. Keyed by sf dir — see
    * chunkedSource's reuse contract. Queries with a different source
    * (the u150-filtered join) keep their own dirs.
    */
  private[graft] def eventsChunks(s: SparkSession, dir: String): DataFrame =
    StreamRun.chunkedSource(s, Tables.events(s, dir),
      s"${scratchDir("stream_src")}/events-4-${dir.replaceAll("[^A-Za-z0-9.]", "_")}", 4)

  /** `ev` split at the midpoint of its `ts` range into the rows before
    * it and the rest: the two phases of the stop/restart and bootstrap
    * scenarios.
    */
  private[graft] def splitAtMidpoint(ev: DataFrame): (DataFrame, DataFrame) = {
    val bounds = ev.agg(min(col("ts")), max(col("ts"))).head()
    val mid = new java.sql.Timestamp(
      (bounds.getTimestamp(0).getTime + bounds.getTimestamp(1).getTime) / 2)
    (ev.filter(col("ts") < lit(mid)), ev.filter(col("ts") >= lit(mid)))
  }

  /** The natural point-in-interval SQL — ONE text, run verbatim by BOTH
    * engines (only the event-table name differs): Spark executes it via
    * `range_join_auto`, where the rewrite rule plans it, DuckDB executes
    * it as the oracle. Daily 01:00–07:00 maintenance windows derived from
    * the data itself, then events counted into their window.
    */
  private[graft] def rangeJoinSql(eventsTable: String): String =
    s"""WITH w AS (
       |  SELECT DISTINCT date_trunc('day', ts) + INTERVAL 1 HOUR AS w_start,
       |         date_trunc('day', ts) + INTERVAL 7 HOUR AS w_end
       |  FROM $eventsTable)
       |SELECT w_start, count(*) AS n_events, round(sum(value), 2) AS sum_value
       |FROM $eventsTable e JOIN w ON e.ts >= w.w_start AND e.ts < w.w_end
       |GROUP BY 1""".stripMargin

  /** Planted-cluster-view constants, shared between the Spark call site
    * and the DuckDB oracle SQL so the two cannot drift apart (the mix is
    * kept as its exact decimal literal text for both engines).
    */
  private[graft] val IvfNClusters = 50
  private[graft] val IvfMix = "0.15"

  /** The planted-cluster embedding view in DuckDB: every vector pulled
    * toward one of the first `IvfNClusters` vectors, the oracle twin of
    * `SimSearch.clusteredView(nClusters = IvfNClusters, mix = IvfMix)`.
    */
  private[graft] val PlantedViewSql =
    s"""WITH ctr AS (
       |  SELECT vec_id AS cid, embedding AS cemb
       |  FROM embeddings WHERE vec_id < $IvfNClusters),
       |v AS (
       |  SELECT e.vec_id, list_transform(range(len(cemb)),
       |           i -> CAST(cemb[i + 1] + $IvfMix * e.embedding[i + 1] AS REAL)) AS emb
       |  FROM embeddings e JOIN ctr ON e.vec_id % $IvfNClusters = ctr.cid)""".stripMargin
}
