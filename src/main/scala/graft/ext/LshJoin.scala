package graft.ext

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.GraftFunctions

/** Shared LSH banding join machinery: candidate id pairs from a band
  * index, without a pair-level distinct.
  *
  * Input schema (one row per (doc, band)): `id`, `keys` (the full
  * band-key vector, array<bigint>), `band` (int position), `band_hash`
  * (that band's key). Both the MinHash (Dedup) and random-hyperplane
  * (SimSearch) indexes produce this shape.
  *
  * A pair colliding in m healthy buckets meets m times in the band
  * self-join; emitting it only at its FIRST healthy colliding band keeps
  * exactly one meeting. That replaces the candidate-level `distinct()` —
  * at scale the largest shuffle of any LSH pipeline, since candidates
  * outnumber docs by orders of magnitude — with doc-level plumbing. The
  * masked key vector holds the real band key where that doc's bucket is
  * healthy and a per-doc sentinel elsewhere (sentinels never collide
  * across docs), so `first_equal_index` finds the first HEALTHY shared
  * bucket and the output is identical to the distinct() formulation,
  * including skew-guard recall.
  */
object LshJoin {

  /** Per-band skew-cap drop audit (round-6 verdict ask #4): for every
    * band, how many buckets exceeded `maxBucketSize` and how many
    * (doc, band) rows sat in them. [[candidatePairs]] silently trades
    * recall on those buckets — at 100 TB that trade must be observable
    * or recall can't be audited, so callers run this over the SAME
    * `bands` relation (cached in every production path, so the index is
    * not recomputed) and persist/alert on the result.
    *
    * Shape notes: a deterministic relational audit, not an accumulator —
    * accumulators double-count under task retries/speculation, and a
    * side DataFrame composes with the oracle harness. Bands with no
    * drops emit explicit zero rows (fixed row count = numBands, so a
    * monitoring diff catches a vanished band). Buckets BELOW the n ≥ 2
    * floor are not counted: singletons cannot form a pair, so skipping
    * them loses no recall.
    */
  def dropAudit(bands: DataFrame, numBands: Int, maxBucketSize: Int): DataFrame = {
    val dropped = bands.groupBy("band", "band_hash")
      .agg(count(lit(1)).as("n"))
      .filter(col("n") > maxBucketSize)
      .groupBy("band")
      .agg(count(lit(1)).as("dropped_buckets"), sum("n").as("dropped_rows"))
    bands.sparkSession.range(numBands)
      .select(col("id").cast("int").as("band"))
      .join(dropped, Seq("band"), "left_outer")
      .select(col("band"),
        coalesce(col("dropped_buckets"), lit(0L)).as("dropped_buckets"),
        coalesce(col("dropped_rows"), lit(0L)).as("dropped_rows"))
  }

  /** Candidate pairs (`id_a`, `id_b`): ordered (id_a < id_b) when
    * `ordered`, else both directions of every pair. Buckets with fewer
    * than 2 or more than `maxBucketSize` members are skipped (skew
    * guard).
    *
    * If `bands` carries a `payload` column (e.g. the full sketch), it is
    * exposed to `pairFilter(payload_a, payload_b)` INSIDE the join
    * condition — pairs failing it are rejected during the hash-join
    * probe, never materialized — and returned as `payload_a`/`payload_b`
    * columns for downstream scoring.
    */
  def candidatePairs(
      bands: DataFrame, numBands: Int, maxBucketSize: Int,
      ordered: Boolean = true,
      pairFilter: Option[(org.apache.spark.sql.Column, org.apache.spark.sql.Column) =>
        org.apache.spark.sql.Column] = None): DataFrame = {
    val okBuckets = bands.groupBy("band", "band_hash")
      .agg(count(lit(1)).as("n"))
      .filter(col("n") >= 2 && col("n") <= maxBucketSize)
      .select("band", "band_hash")
    val okRows = bands.join(okBuckets, Seq("band", "band_hash"))
    val okMasked = okRows
      .groupBy("id")
      .agg(map_from_entries(collect_list(struct(col("band"), col("band_hash"))))
        .as("okmap"))
      .select(col("id"), transform(
        sequence(lit(0), lit(numBands - 1)),
        j => when(map_contains_key(col("okmap"), j), element_at(col("okmap"), j))
          .otherwise(xxhash64(lit(-7L), col("id"), j))).as("mkeys"))
    val pruned = okRows.join(okMasked, Seq("id"))
    val hasPayload = bands.columns.contains("payload")
    def side(suffix: String) = {
      val cols = Seq(col("band"), col("band_hash"),
        col("id").as(s"id$suffix"), col("mkeys").as(s"mkeys$suffix")) ++
        (if (hasPayload) Seq(col("payload").as(s"payload$suffix")) else Nil)
      pruned.select(cols: _*)
    }
    // explicit dataset aliases: l("band") === r("band") on two selects of
    // the same plan resolves both sides to one attribute and makes Spark
    // log a "trivially true predicate" warning on every run (the join
    // itself was disambiguated correctly) — qualified names keep the log
    // clean so real Column warnings stay visible
    val l = side("_a").alias("lsh_l")
    val r = side("_b").alias("lsh_r")
    val idCond =
      if (ordered) col("id_a") < col("id_b") else col("id_a") =!= col("id_b")
    val baseCond =
      col("lsh_l.band") === col("lsh_r.band") &&
      col("lsh_l.band_hash") === col("lsh_r.band_hash") && idCond &&
      (GraftFunctions.firstEqualIndex(col("mkeys_a"), col("mkeys_b"))
        === col("lsh_l.band"))
    val cond = pairFilter match {
      case Some(f) if hasPayload => baseCond && f(col("payload_a"), col("payload_b"))
      case _ => baseCond
    }
    l.join(r, cond)
      .select(col("id_a") +: col("id_b") +:
        (if (hasPayload) Seq(col("payload_a"), col("payload_b")) else Nil): _*)
  }
}
