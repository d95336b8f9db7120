package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.functions.{call_function, lit}
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}

/** 64-bit SimHash of a bag of 64-bit token hashes.
  *
  * Bit b of the result is 1 iff more than half of the (non-null) input
  * hashes have bit b set — the classic Charikar sketch: near-duplicate
  * documents get simhashes at small Hamming distance.
  *
  * Implemented as a native Catalyst `Expression` with `doGenCode` (not a
  * Scala UDF) so it stays inside whole-stage codegen: no
  * serialization boundary, no boxing per row — this runs over every
  * document at 100 TB, so the hot path matters.
  */
case class SimHash64(child: Expression)
    extends UnaryExpression {

  override def dataType: DataType = LongType
  override def prettyName: String = "graft_simhash64"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(LongType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires array<bigint>, got ${other.catalogString}")
  }

  override def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val n = arr.numElements()
    val cnt = new Array[Int](64)
    var m = 0
    var k = 0
    while (k < n) {
      if (!arr.isNullAt(k)) {
        m += 1
        val h = arr.getLong(k)
        var b = 0
        while (b < 64) {
          if (((h >>> b) & 1L) == 1L) cnt(b) += 1
          b += 1
        }
      }
      k += 1
    }
    var r = 0L
    var b = 0
    while (b < 64) {
      if (2 * cnt(b) > m) r |= (1L << b)
      b += 1
    }
    java.lang.Long.valueOf(r)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, arr => {
      val n = ctx.freshName("n")
      val m = ctx.freshName("m")
      val cnt = ctx.freshName("cnt")
      val k = ctx.freshName("k")
      val h = ctx.freshName("h")
      val b = ctx.freshName("b")
      val r = ctx.freshName("r")
      s"""
         |int $n = $arr.numElements();
         |int $m = 0;
         |int[] $cnt = new int[64];
         |for (int $k = 0; $k < $n; $k++) {
         |  if (!$arr.isNullAt($k)) {
         |    $m++;
         |    long $h = $arr.getLong($k);
         |    for (int $b = 0; $b < 64; $b++) {
         |      if ((($h >>> $b) & 1L) == 1L) $cnt[$b]++;
         |    }
         |  }
         |}
         |long $r = 0L;
         |for (int $b = 0; $b < 64; $b++) {
         |  if (2 * $cnt[$b] > $m) $r |= (1L << $b);
         |}
         |${ev.value} = $r;
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): SimHash64 =
    copy(child = newChild)
}

/** graft's native SQL functions and their Column-level access. Every
  * session gets [[builders]] from `plans.GraftExtensions`, so the Column
  * forms below are plain `call_function`s on any graft session (no
  * dependence on non-public Column constructors).
  */
object GraftFunctions {

  /** Each function's name and the builder of its native expression. */
  val builders: Seq[(String, Seq[Expression] => Expression)] = Seq(
    "graft_simhash64" -> (e => SimHash64(e.head)),
    "graft_sorted_intersect_count" -> (e => SortedIntersectCount(e(0), e(1))),
    "graft_dot" -> (e => ArrayDotProduct(e(0), e(1))),
    "graft_sorted_first_contained" -> (e => SortedFirstContained(e(0), e(1))),
    // threshold is baked into the generated merge-abort bound, so it
    // must be a foldable literal
    "graft_containment_verify" -> (e => ContainmentVerify(e(0), e(1), e(2), e(3),
      e(4).eval().asInstanceOf[Number].doubleValue())),
    // k and seed must be foldable literals: they parameterize the hash
    // family baked into the generated code.
    "graft_minhash_sig" -> (e => MinHashSig(
      e(0),
      e(1).eval().asInstanceOf[Number].intValue(),
      e(2).eval().asInstanceOf[Number].longValue())),
    "graft_first_equal_index" -> (e => FirstEqualIndex(e(0), e(1))),
    // the serialized filter must be a foldable binary literal — it is
    // deserialized once and baked into the generated code's references
    "graft_bloom_contains" -> (e => BloomMightContainLong(e(0), e(1))),
    // band/bit/dim/seed parameterize the plane matrix baked into the
    // generated code, so they must be foldable literals.
    "graft_rhp_sig" -> (e => RhpSignature(
      e(0),
      e(1).eval().asInstanceOf[Number].intValue(),
      e(2).eval().asInstanceOf[Number].intValue(),
      e(3).eval().asInstanceOf[Number].intValue(),
      e(4).eval().asInstanceOf[Number].longValue())))

  def simhash64(tokenHashes: Column): Column =
    call_function("graft_simhash64", tokenHashes)

  /** Double-precision dot product over float/double arrays. */
  def dot(a: Column, b: Column): Column = call_function("graft_dot", a, b)

  /** First index where two bigint arrays agree, -1 if none. */
  def firstEqualIndex(a: Column, b: Column): Column =
    call_function("graft_first_equal_index", a, b)

  /** Bloom-filter membership probe on a bigint column; `filter` is a
    * driver-built `org.apache.spark.util.sketch.BloomFilter`, shipped
    * serialized as a binary literal.
    */
  def bloomContainsLong(value: Column,
      filter: org.apache.spark.util.sketch.BloomFilter): Column = {
    val bos = new java.io.ByteArrayOutputStream()
    filter.writeTo(bos)
    call_function("graft_bloom_contains", value, lit(bos.toByteArray))
  }

  /** Random-hyperplane LSH band keys (array<bigint>, one per band). */
  def rhpSig(vec: Column, numBands: Int,
      bitsPerBand: Int, dim: Int, seed: Long): Column =
    call_function("graft_rhp_sig", vec, lit(numBands), lit(bitsPerBand),
      lit(dim), lit(seed))
}
