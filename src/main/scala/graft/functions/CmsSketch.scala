package graft.functions

import org.apache.spark.sql.{Column, Encoder, Encoders}
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions.udaf
import org.apache.spark.util.sketch.CountMinSketch

/** Mergeable Count-Min frequency sketches as typed Aggregators — the
  * second re-aggregable sketch family beside the HLL pair
  * (`hll_sketch_agg`/`hll_union_agg`, RelationalCerts).
  *
  * Spark ships a `count_min_sketch` SQL aggregate but no estimate or
  * union function over its binary output, so the production
  * heavy-hitters shape — per-shard sketches stored small, union-merged
  * across shards/days, probed for any key without re-scanning the
  * 100 TB corpus — needs the two halves below. Both build on the PUBLIC
  * `org.apache.spark.util.sketch.CountMinSketch` (the class behind the
  * SQL aggregate and `DataFrameStatFunctions.countMinSketch`).
  *
  * CMS math makes this scale-safe by construction: every cell is a sum,
  * so `reduce` and `merge` are commutative + associative and the final
  * sketch is IDENTICAL (cell-for-cell, hence estimate-for-estimate)
  * regardless of row order, partitioning, or merge tree shape — the
  * partial-aggregation path Spark runs is exact, not approximate, with
  * respect to the sketch itself. Guarantees: estimate >= true count
  * always; estimate <= true + eps·N with confidence 1-delta.
  *
  * [[CmsBuildLong]] aggregates raw long keys into a serialized sketch;
  * [[CmsMerge]] union-merges already-serialized sketches (the read-
  * from-disk re-aggregation half). Buffers carry the live sketch object
  * (javaSerialization encoder — only shuffled at partial/final merge
  * boundaries, never per row); outputs are portable byte arrays
  * (`CountMinSketch.writeTo` wire format, version-tagged by the class).
  */
final class CmsBuildLong(eps: Double, confidence: Double, seed: Int)
    extends Aggregator[Long, CountMinSketch, Array[Byte]] {

  override def zero: CountMinSketch = CountMinSketch.create(eps, confidence, seed)

  override def reduce(b: CountMinSketch, key: Long): CountMinSketch = {
    b.addLong(key); b
  }

  override def merge(a: CountMinSketch, b: CountMinSketch): CountMinSketch =
    a.mergeInPlace(b)

  override def finish(r: CountMinSketch): Array[Byte] = r.toByteArray

  override def bufferEncoder: Encoder[CountMinSketch] =
    Encoders.javaSerialization[CountMinSketch]

  override def outputEncoder: Encoder[Array[Byte]] = Encoders.BINARY
}

/** Union-merge of serialized CMS sketches (all sides must share
  * depth/width/seed — `mergeInPlace` rejects incompatible shapes). An
  * all-null / empty group yields an empty sketch of the given shape,
  * mirroring `hll_union_agg`'s identity element.
  */
final class CmsMerge(eps: Double, confidence: Double, seed: Int)
    extends Aggregator[Array[Byte], CountMinSketch, Array[Byte]] {

  override def zero: CountMinSketch = CountMinSketch.create(eps, confidence, seed)

  override def reduce(b: CountMinSketch, bytes: Array[Byte]): CountMinSketch =
    if (bytes == null) b else b.mergeInPlace(CountMinSketch.readFrom(bytes))

  override def merge(a: CountMinSketch, b: CountMinSketch): CountMinSketch =
    a.mergeInPlace(b)

  override def finish(r: CountMinSketch): Array[Byte] = r.toByteArray

  override def bufferEncoder: Encoder[CountMinSketch] =
    Encoders.javaSerialization[CountMinSketch]

  override def outputEncoder: Encoder[Array[Byte]] = Encoders.BINARY
}

object CmsSketch {
  /** Default shape: eps 1e-4 (width = ceil(2/eps) = 20000 long 8-byte
    * cells per row, ≈ 160 KB/row, ≈ 1.6 MB per sketch at depth 10 —
    * still small enough to ship thousands of shard sketches to one
    * merger), confidence 0.999 (depth 10). Deterministic seed.
    */
  val Eps = 1e-4
  val Confidence = 0.999
  val Seed = 42

  /** SQL front door (default shape): `graft_cms_build(longCol)`,
    * `graft_cms_union(sketchCol)`, `graft_cms_estimate(sketch, key)`.
    * The estimate deserializes per CALL — it is a probe-side helper
    * (O(probe keys)), not a per-corpus-row kernel. Idempotent per
    * session, like GraftFunctions.register.
    */
  def registerSql(spark: org.apache.spark.sql.SparkSession): Unit = {
    if (!registered.add(spark)) return
    spark.udf.register("graft_cms_build",
      udaf(new CmsBuildLong(Eps, Confidence, Seed)))
    spark.udf.register("graft_cms_union",
      udaf(new CmsMerge(Eps, Confidence, Seed)))
    spark.udf.register("graft_cms_estimate",
      org.apache.spark.sql.functions.udf((sketch: Array[Byte], key: Long) =>
        // null sketch (e.g. an empty outer-join side) probes to null,
        // not an NPE from CountMinSketch.readFrom(null)
        if (sketch == null) null
        else java.lang.Long.valueOf(CountMinSketch.readFrom(sketch)
          .estimateCount(java.lang.Long.valueOf(key)))))
  }

  private val registered =
    java.util.Collections.newSetFromMap(
      new java.util.concurrent.ConcurrentHashMap[
        org.apache.spark.sql.SparkSession, java.lang.Boolean]())

  /** Column form: sketch of a long key column. */
  def buildLong(key: Column,
                eps: Double = Eps, confidence: Double = Confidence,
                seed: Int = Seed): Column =
    udaf(new CmsBuildLong(eps, confidence, seed)).apply(key)

  /** Column form: union of serialized sketches. */
  def union(sketch: Column,
            eps: Double = Eps, confidence: Double = Confidence,
            seed: Int = Seed): Column =
    udaf(new CmsMerge(eps, confidence, seed)).apply(sketch)

  def deserialize(bytes: Array[Byte]): CountMinSketch =
    CountMinSketch.readFrom(bytes)
}
