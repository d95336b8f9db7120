package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical.{BinaryNode, LogicalPlan}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution, Partitioning}
import org.apache.spark.sql.execution.{BinaryExecNode, SparkPlan, SparkStrategy}
import org.apache.spark.sql.execution.metric.SQLMetrics
import org.apache.spark.sql.{functions => F}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.graft.GraftSqlShim
import org.apache.spark.sql.types.{DataType, LongType, TimestampNTZType, TimestampType}

/** Native as-of join: the engine's one WHOLE-OPERATOR Catalyst
  * extension — a custom logical node, planner strategy, and physical
  * merge operator (the (c) rung of the extension ladder; the engine's
  * other custom pieces are expressions (b) and an optimizer rule).
  *
  * Why a physical operator when the union-and-window composition (tag
  * both sides, union, running `last(_, ignoreNulls)` per key) is
  * already one shuffle: that form, which this operator replaced, pays
  * for generality three times at scale —
  *
  *   1. the shuffle carries left ∪ right rows PADDED TO THE COMBINED
  *      SCHEMA (every left row ships null right-payload slots and vice
  *      versa), so shuffle bytes ≈ (|L|+|R|) × (wL+wR) instead of
  *      |L|×wL + |R|×wR;
  *   2. the window operator buffers and re-scans each key's rows
  *      through `last(_, ignoreNulls)` frame state, one pass PER
  *      payload column;
  *   3. the left rows come back out of a filter over the unioned
  *      stream, so downstream sees a plan with a Window + Filter that
  *      no join-aware rule (broadcast candidates, ordering reuse)
  *      understands.
  *
  * The native operator shuffles each side in its OWN schema, sorts
  * both by (key, time) — exactly a sort-merge join's requirements,
  * expressed through `requiredChildDistribution`/`Ordering` so
  * EnsureRequirements plans the exchanges and AQE still re-plans
  * them — then streams one forward-only merge pass per partition with
  * O(1) state (ONE buffered right row), emitting left rows joined to
  * their as-of match. No union, no padding, no window re-scan, any
  * number of payload columns for free.
  *
  * Semantics (mirrors DuckDB's ASOF JOIN, which oracle-checks it):
  * backward = latest right with rightTime <= leftTime per key;
  * forward = earliest right with rightTime >= leftTime; both
  * inclusive; optional tolerance nulls matches farther than
  * `toleranceMicros` from the left time; unmatched left rows keep
  * null right columns (left outer). Among right ties at the matched
  * (key, time) the winner is sort-unstable — callers wanting a
  * specific winner pre-reduce the right side.
  */
case class AsOfJoinPlan(
    left: LogicalPlan,
    right: LogicalPlan,
    leftKeys: Seq[Expression],
    rightKeys: Seq[Expression],
    leftTime: Expression,
    rightTime: Expression,
    forward: Boolean,
    toleranceMicros: Option[Long],
    /** NEAREST mode: match the right row minimizing |Δt| within the
      * tolerance, equidistant tie → the PRIOR row; `forward` is
      * ignored. */
    nearest: Boolean = false) extends BinaryNode {

  require(leftKeys.length == rightKeys.length && leftKeys.nonEmpty,
    "as-of join needs matching non-empty key lists")
  require(AsOfJoinNative.timeTypeOk(leftTime.dataType) &&
    AsOfJoinNative.timeTypeOk(rightTime.dataType),
    s"as-of time columns must be timestamp or long, got " +
      s"${leftTime.dataType} / ${rightTime.dataType}")

  // left outer: right columns go nullable, same exprIds (the Join
  // node's own convention, so downstream resolution just works)
  override def output: Seq[Attribute] =
    left.output ++ right.output.map(_.withNullability(true))

  override protected def withNewChildrenInternal(
      newLeft: LogicalPlan, newRight: LogicalPlan): AsOfJoinPlan =
    copy(left = newLeft, right = newRight)
}

/** Plans [[AsOfJoinPlan]] as [[AsOfJoinExec]]. Injected by
  * [[GraftExtensions]] so every engine session (local, local-cluster,
  * streaming twins) can plan the node.
  */
object AsOfJoinStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case AsOfJoinPlan(l, r, lk, rk, lt, rt, fwd, tol, near) =>
      AsOfJoinExec(lk, rk, lt, rt, fwd, tol, planLater(l), planLater(r), near) :: Nil
    case _ => Nil
  }
}

/** Physical single-pass merge as-of join.
  *
  * Child requirements make EnsureRequirements do the heavy lifting:
  * both sides hash-clustered on their keys (co-partitioned exchanges,
  * AQE-replannable) and sorted by (keys…, time) ascending. Each
  * partition then merges in one forward pass:
  *
  *   - BACKWARD: consume right rows while rightKey < leftKey or
  *     (equal key, rightTime <= leftTime); the LAST consumed matching
  *     row is the as-of match (copied once per left row at most —
  *     shuffle iterators reuse row objects, and the last consumed
  *     reference stays valid until the next consume, so the copy
  *     happens only when the advance stops).
  *   - FORWARD: consume right rows strictly before the left time
  *     (they can never match a later left row either — left times
  *     ascend within a key); the right HEAD, if key-equal and
  *     time >= leftTime, is the match and is NOT consumed (it may
  *     match the next left row too).
  *
  * State per partition: one buffered right row + one copied match —
  * O(1), no per-key buffering, no spill path needed. Null keys or
  * null times never match (right such rows are consumed and dropped;
  * left ones emit unmatched), matching SQL join null semantics.
  */
case class AsOfJoinExec(
    leftKeys: Seq[Expression],
    rightKeys: Seq[Expression],
    leftTime: Expression,
    rightTime: Expression,
    forward: Boolean,
    toleranceMicros: Option[Long],
    left: SparkPlan,
    right: SparkPlan,
    nearest: Boolean = false) extends BinaryExecNode {

  override def output: Seq[Attribute] =
    left.output ++ right.output.map(_.withNullability(true))

  override lazy val metrics = Map(
    "numOutputRows" -> SQLMetrics.createMetric(sparkContext, "number of output rows"))

  override def requiredChildDistribution: Seq[Distribution] =
    ClusteredDistribution(leftKeys) :: ClusteredDistribution(rightKeys) :: Nil

  private def sortSpec(keys: Seq[Expression], time: Expression): Seq[SortOrder] =
    keys.map(SortOrder(_, Ascending)) :+ SortOrder(time, Ascending)

  override def requiredChildOrdering: Seq[Seq[SortOrder]] =
    Seq(sortSpec(leftKeys, leftTime), sortSpec(rightKeys, rightTime))

  // the merge streams left rows through untouched, so the left side's
  // partitioning and ordering survive for downstream reuse
  override def outputPartitioning: Partitioning = left.outputPartitioning
  override def outputOrdering: Seq[SortOrder] = sortSpec(leftKeys, leftTime)

  override protected def withNewChildrenInternal(
      newLeft: SparkPlan, newRight: SparkPlan): AsOfJoinExec =
    copy(left = newLeft, right = newRight)

  override protected def doExecute(): RDD[InternalRow] = {
    val numOutputRows = longMetric("numOutputRows")
    val lKeyExprs = leftKeys
    val rKeyExprs = rightKeys
    val lTimeExpr = leftTime
    val rTimeExpr = rightTime
    val lAttrs = left.output
    val rAttrs = right.output
    val fwd = forward
    val near = nearest
    val tol = toleranceMicros
    val keyTypes = leftKeys.map(_.dataType)

    left.execute().zipPartitions(right.execute()) { (lIter, rIter) =>
      // ONE combined (keys…, time) projection per side, evaluated at
      // most once per input row: the key ordering only reads ordinals
      // 0..k-1, so the trailing time slot rides in the same row. The
      // right head's evaluation is cached until the head is consumed —
      // without the cache every left row re-projects the same unmoved
      // head, which measured ~1.6× over the union-and-window form.
      val nKeys = lKeyExprs.length
      val lGen = UnsafeProjection.create(lKeyExprs :+ lTimeExpr, lAttrs)
      val rGen = UnsafeProjection.create(rKeyExprs :+ rTimeExpr, rAttrs)
      val keyOrd = RowOrdering.createNaturalAscendingOrdering(keyTypes)
      // input schema must be the NULLABLE right attrs too: bound
      // references take nullability from the input side, and the
      // no-match case feeds an all-null right row
      val nullableIn = lAttrs ++ rAttrs.map(_.withNullability(true))
      val resultProj = UnsafeProjection.create(nullableIn, nullableIn)
      val nullRight = new GenericInternalRow(rAttrs.length)
      val joined = new JoinedRow
      val rBuf = rIter.buffered

      new Iterator[InternalRow] {
        // backward state: the last key-matching right row consumed, its
        // key, and its time — valid for the current left key only.
        // Shuffle/sort iterators REUSE row objects (and even peeking the
        // buffered head mutates the previously returned reference), so a
        // kept row must be copied AT CONSUME TIME; the reusable UnsafeRow
        // buffers make that copy allocation-free steady-state.
        private var matched: InternalRow = null
        private var matchedKey: InternalRow = null
        private var matchedT = 0L
        private val matchBuf = newBuf(rAttrs.length)
        private val matchKeyBuf = newBuf(nKeys + 1)
        // cached evaluation of the right head (valid until consumed):
        // rHeadKT points into rGen's reused buffer, which is only
        // re-evaluated after the head moves
        private var rHeadLoaded = false
        private var rHeadKT: UnsafeRow = null
        private var rHeadNullKey = false
        private var rHeadT = 0L
        private val tolMicros = tol.getOrElse(Long.MaxValue)

        private def newBuf(n: Int): UnsafeRow = {
          val r = new UnsafeRow(n)
          val bytes = new Array[Byte](64)
          r.pointTo(bytes, 64)
          r
        }

        private def keep(row: InternalRow, buf: UnsafeRow): InternalRow = row match {
          case u: UnsafeRow => buf.copyFrom(u); buf
          case other => other.copy()
        }

        private def keyIsNull(row: UnsafeRow): Boolean = {
          var i = 0
          while (i < nKeys) { if (row.isNullAt(i)) return true; i += 1 }
          false
        }

        /** True iff a right head is available, with its (key, time)
          * evaluation cached in rHead*.
          */
        private def loadHead(): Boolean = {
          if (!rHeadLoaded) {
            if (!rBuf.hasNext) return false
            rHeadKT = rGen(rBuf.head)
            rHeadNullKey = keyIsNull(rHeadKT) || rHeadKT.isNullAt(nKeys)
            rHeadT = if (rHeadNullKey) 0L else rHeadKT.getLong(nKeys)
            rHeadLoaded = true
          }
          true
        }

        private def consumeHead(): InternalRow = {
          rHeadLoaded = false
          rBuf.next()
        }

        override def hasNext: Boolean = lIter.hasNext

        override def next(): InternalRow = {
          val lrow = lIter.next()
          val lkt = lGen(lrow)
          numOutputRows += 1
          if (keyIsNull(lkt) || lkt.isNullAt(nKeys)) {
            resultProj(joined(lrow, nullRight))
          } else {
            val lt = lkt.getLong(nKeys)
            if (near) mergeNearest(lrow, lkt, lt)
            else if (fwd) mergeForward(lrow, lkt, lt)
            else mergeBackward(lrow, lkt, lt)
          }
        }

        private def mergeBackward(lrow: InternalRow, lkt: UnsafeRow, lt: Long): InternalRow = {
          var advancing = true
          while (advancing && loadHead()) {
            if (rHeadNullKey) { consumeHead() }
            else {
              val cmp = keyOrd.compare(rHeadKT, lkt)
              if (cmp < 0) { consumeHead() }
              else if (cmp == 0 && rHeadT <= lt) {
                matchedT = rHeadT
                matchedKey = keep(rHeadKT, matchKeyBuf)
                matched = keep(consumeHead(), matchBuf)
              } else advancing = false
            }
          }
          val ok = matched != null && keyOrd.compare(matchedKey, lkt) == 0 &&
            lt - matchedT <= tolMicros
          resultProj(joined(lrow, if (ok) matched else nullRight))
        }

        /** NEAREST: advance exactly like backward (the last key-equal
          * row with rt <= lt stays copied in `matched`); once the
          * advance stops, the UNCONSUMED head — if key-equal — is the
          * earliest following candidate. Pick whichever side has the
          * smaller in-tolerance delta; equidistant tie takes the PRIOR
          * (strict `<` on the forward delta). O(1) state, same as the
          * two single-direction merges.
          */
        private def mergeNearest(lrow: InternalRow, lkt: UnsafeRow, lt: Long): InternalRow = {
          var advancing = true
          while (advancing && loadHead()) {
            if (rHeadNullKey) { consumeHead() }
            else {
              val cmp = keyOrd.compare(rHeadKT, lkt)
              if (cmp < 0) { consumeHead() }
              else if (cmp == 0 && rHeadT <= lt) {
                matchedT = rHeadT
                matchedKey = keep(rHeadKT, matchKeyBuf)
                matched = keep(consumeHead(), matchBuf)
              } else advancing = false
            }
          }
          val bwdOk = matched != null && keyOrd.compare(matchedKey, lkt) == 0 &&
            lt - matchedT <= tolMicros
          val fwdOk = loadHead() && !rHeadNullKey &&
            keyOrd.compare(rHeadKT, lkt) == 0 && rHeadT - lt <= tolMicros
          val useFwd = fwdOk && (!bwdOk || (rHeadT - lt) < (lt - matchedT))
          resultProj(joined(lrow,
            if (useFwd) rBuf.head else if (bwdOk) matched else nullRight))
        }

        private def mergeForward(lrow: InternalRow, lkt: UnsafeRow, lt: Long): InternalRow = {
          // drop right rows that can no longer match this left row NOR
          // any later one (left (key, time) only ascends)
          var advancing = true
          while (advancing && loadHead()) {
            if (rHeadNullKey ||
                keyOrd.compare(rHeadKT, lkt) < 0 ||
                (keyOrd.compare(rHeadKT, lkt) == 0 && rHeadT < lt)) consumeHead()
            else advancing = false
          }
          // head (unconsumed — the next left row may need it too) is the
          // earliest following candidate iff key-equal
          if (loadHead() && keyOrd.compare(rHeadKT, lkt) == 0 &&
              rHeadT - lt <= tolMicros) {
            resultProj(joined(lrow, rBuf.head))
          } else resultProj(joined(lrow, nullRight))
        }
      }
    }
  }
}

/** DataFrame-level front door for the native as-of join. */
object AsOfJoinNative {

  private[plans] def timeTypeOk(dt: DataType): Boolean = dt match {
    case TimestampType | TimestampNTZType | LongType => true
    case _ => false
  }

  private val LtCol = "__asof_lt"
  private val RtCol = "__asof_rt"
  private val BkCol = "__asof_bk"

  /** As-of join `left` to `right` on equal `keys`, matching the latest
    * prior (or, with `forward`, earliest following) right row by time,
    * surfacing `payload` columns from the match (null when none).
    * Time columns of any date/timestamp type are normalized to
    * timestamps up front, so mixed DATE/TIMESTAMP inputs compare the
    * way SQL would cast them.
    */
  def join(
      left: DataFrame, right: DataFrame,
      leftKey: String, rightKey: String,
      leftTime: String, rightTime: String,
      payload: Seq[String],
      forward: Boolean = false,
      toleranceSeconds: Option[Long] = None,
      /** Nearest mode: minimize |Δt| (tie → prior); `forward` ignored. */
      nearest: Boolean = false): DataFrame = {

    val leftCols = left.columns.toSeq
    validate(left, right, payload)
    val l = left.withColumn(LtCol, col(leftTime).cast(TimestampType))
    val r = right.withColumn(RtCol, col(rightTime).cast(TimestampType))
    val lPlan = analyzed(l)
    val rPlan = analyzed(r)
    def attr(plan: LogicalPlan, name: String): Attribute =
      plan.output.find(_.name == name).getOrElse(
        throw new IllegalArgumentException(s"column $name not found"))

    val node = AsOfJoinPlan(
      lPlan, rPlan,
      Seq(attr(lPlan, leftKey)), Seq(attr(rPlan, rightKey)),
      attr(lPlan, LtCol), attr(rPlan, RtCol),
      forward, toleranceSeconds.map(_ * 1000000L), nearest)
    GraftSqlShim.ofRows(sessionOf(left), node)
      .select((leftCols ++ payload).map(col): _*)
  }

  /** Adaptive front door: [[join]] or [[joinSkewSalted]], chosen from a
    * cheap key-histogram sample — the caller no longer has to KNOW the
    * skew. Salting costs ~2× wall and shuffle when keys are uniform
    * (STRESS.md, round 14) while the plain merge serializes a hot key
    * through one task, so neither always-on nor always-off is right;
    * the decision needs data.
    *
    * The probe is ONE Spark job: both sides' column-pruned (key, time)
    * scans union into a deterministic 1/64 hash sample (no rand() —
    * retries resample identically), reduced to per-side max-key-count /
    * total-count. If either side's hottest key owns ≥ `hotFraction` of
    * its sampled rows, the time-split salted path engages.
    *
    * PRICE, measured honestly (STRESS `asofauto`): the probe is a
    * CONSTANT ~0.5–0.9 s at sf0.1×64 — one narrow scan plus one tiny
    * aggregation — independent of row width (the join shuffles full
    * rows; the probe never does). On the fixture, where the entire
    * uniform join is ~1 s of mostly fixed stage overhead, that reads
    * as 1.4–1.8×; on the joins auto mode exists for (minutes of wall,
    * where an unmitigated hot key is a 6× straggler) the same probe
    * prices at percent level. Sub-second joins should call [[join]]
    * directly — which remains the default front door.
    */
  def joinAuto(
      left: DataFrame, right: DataFrame,
      leftKey: String, rightKey: String,
      leftTime: String, rightTime: String,
      payload: Seq[String],
      forward: Boolean = false,
      toleranceSeconds: Option[Long] = None,
      hotFraction: Double = 0.10,
      numSplits: Int = 32): DataFrame =
    joinAutoWithDecision(left, right, leftKey, rightKey, leftTime, rightTime,
      payload, forward, toleranceSeconds, hotFraction, numSplits)._1

  /** [[joinAuto]] exposing the decision for certification/diagnostics:
    * (result, salting engaged, max sampled hot-key fraction).
    */
  def joinAutoWithDecision(
      left: DataFrame, right: DataFrame,
      leftKey: String, rightKey: String,
      leftTime: String, rightTime: String,
      payload: Seq[String],
      forward: Boolean = false,
      toleranceSeconds: Option[Long] = None,
      hotFraction: Double = 0.10,
      numSplits: Int = 32): (DataFrame, Boolean, Double) = {
    require(hotFraction > 0 && hotFraction <= 1.0,
      s"hotFraction must be in (0, 1], got $hotFraction")
    val hot = maxHotKeyFraction(left, leftKey, leftTime,
      right, rightKey, rightTime)
    if (hot >= hotFraction)
      (joinSkewSalted(left, right, leftKey, rightKey, leftTime, rightTime,
        payload, forward, toleranceSeconds, numSplits), true, hot)
    else
      (join(left, right, leftKey, rightKey, leftTime, rightTime,
        payload, forward, toleranceSeconds), false, hot)
  }

  /** Max over both sides of the hottest key's share of a deterministic
    * 1/64 hash sample of (key, time) — ONE Spark job for both probes
    * (the two pruned scans union into a single per-(side, key-hash)
    * count; keys are compared HASHED so heterogeneous key types union
    * cleanly — a 64-bit hash collision misattributes a count, which at
    * a 10% decision threshold is noise). Four bounded values to the
    * driver, same discipline as the salted form's range probe. An
    * empty sample reads as 0.0 (no evidence of skew → plain path).
    */
  private def maxHotKeyFraction(
      left: DataFrame, leftKey: String, leftTime: String,
      right: DataFrame, rightKey: String, rightTime: String): Double = {
    def sampled(df: DataFrame, key: String, time: String, side: Int) =
      df.select(F.lit(side).as("__asof_s"),
          F.xxhash64(col(key)).as("__asof_k"),
          F.xxhash64(col(key), col(time)).as("__asof_h"))
        .filter(F.pmod(col("__asof_h"), F.lit(64L)) === F.lit(0L))
    val rows = sampled(left, leftKey, leftTime, 0)
      .unionByName(sampled(right, rightKey, rightTime, 1))
      .groupBy(col("__asof_s"), col("__asof_k"))
      .agg(F.count(F.lit(1)).as("__asof_c"))
      .groupBy(col("__asof_s"))
      .agg(F.max(col("__asof_c")).as("mx"), F.sum(col("__asof_c")).as("tot"))
      .collect()
    rows.map { r =>
      if (r.isNullAt(1) || r.isNullAt(2) || r.getLong(2) == 0L) 0.0
      else r.getLong(1).toDouble / r.getLong(2).toDouble
    }.foldLeft(0.0)(math.max)
  }

  /** Hot-key-safe as-of join: [[join]] with the key space TIME-SPLIT.
    *
    * Why: [[AsOfJoinExec]] declares `ClusteredDistribution` on the join
    * key, and AQE's `OptimizeSkewedJoin` only splits SMJ/SHJ nodes — a
    * hot key (one user owning 10% of events) funnels its whole merge
    * through ONE task with no runtime remedy. The fix is the as-of
    * analogue of skew-join replication, and it is CHEAP because the
    * operator's state is O(1): split the timeline into `numSplits`
    * fixed-width ranges (width from one min/max metadata agg over the
    * left), join on (key, split), and the only right row a split needs
    * beyond its own range is the single boundary row — the latest
    * right row BEFORE the split's start (backward; mirrored for
    * forward). Boundary rows are materialized by reducing the right
    * side to one extreme row per (key, split) — a map-side-combining
    * agg — and exploding each to the later (earlier) splits it can
    * serve, keeping the per-(key, split) extreme: ≤ splits² small rows
    * per key, constant in data size.
    *
    * The result is identical to [[join]] up to the operator's
    * documented tie instability: when duplicate (key, time) right rows
    * carry DIFFERENT payloads, the boundary reduction's max_by/min_by
    * tie-pick may differ from the unsalted merge's sort-unstable pick —
    * same contract both ways (one arbitrary row among the ties), but
    * not necessarily the same row. For tie-free right sides (or
    * tie-reduced payloads, as the spec pre-reduces) the rows are
    * byte-identical. A hot key's merge now spreads across up to `numSplits`
    * tasks, bounding max-task at ~1/numSplits of the hot key's volume.
    * Cost vs the unsalted form: one extra reduced agg + explode on the
    * right side — the knob a job flips when key skew is known or
    * measured, not the default.
    */
  def joinSkewSalted(
      left: DataFrame, right: DataFrame,
      leftKey: String, rightKey: String,
      leftTime: String, rightTime: String,
      payload: Seq[String],
      forward: Boolean = false,
      toleranceSeconds: Option[Long] = None,
      numSplits: Int = 32): DataFrame = {

    require(numSplits >= 1, "numSplits must be positive")
    val leftCols = left.columns.toSeq
    validate(left, right, payload)

    val l0 = left.withColumn(LtCol, col(leftTime).cast(TimestampType))
    val r0 = right.withColumn(RtCol, col(rightTime).cast(TimestampType))
    // split width from the left time range — one bounded metadata agg
    // (two longs to the driver, same discipline as JDBC range bounds)
    val bounds = l0.agg(F.min(F.unix_micros(col(LtCol))),
      F.max(F.unix_micros(col(LtCol)))).head
    if (bounds.isNullAt(0))
      return join(left, right, leftKey, rightKey, leftTime, rightTime,
        payload, forward, toleranceSeconds)
    val lo = bounds.getLong(0)
    val width = math.max(1L, (bounds.getLong(1) - lo) / numSplits + 1)
    val lastSplit = (numSplits - 1).toLong
    // offset-from-lo stays far under 2^53, so the double division is
    // exact enough for a bucket id; out-of-range right times clamp to
    // the edge splits (they are served by boundary replication)
    def bucketOf(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
      F.least(F.lit(lastSplit), F.greatest(F.lit(0L),
        F.floor((F.unix_micros(c) - F.lit(lo)) / F.lit(width))))

    val lB = l0.withColumn(BkCol, bucketOf(col(LtCol)))
    val rIn = r0.withColumn(BkCol, bucketOf(col(RtCol)))
    // one extreme row per (key, split): the ONLY candidate that can
    // serve another split's boundary
    val pick = if (forward) F.min_by _ else F.max_by _
    val pb = rIn.groupBy(col(rightKey).as("__asof_k"), col(BkCol))
      .agg(pick(F.struct(r0.columns.map(col).toSeq: _*), col(RtCol))
        .as("__asof_s"))
    // explode each extreme to the splits it can serve (empty at the
    // timeline edge — sequence(a, b) with a > b counts DOWN in Spark,
    // so the guard is load-bearing, not cosmetic)
    val targets =
      if (forward)
        F.when(col(BkCol) >= F.lit(1L),
          F.sequence(F.lit(0L), col(BkCol) - F.lit(1L)))
          .otherwise(F.array())
      else
        F.when(col(BkCol) + F.lit(1L) <= F.lit(lastSplit),
          F.sequence(col(BkCol) + F.lit(1L), F.lit(lastSplit)))
          .otherwise(F.array())
    val boundary = pb.withColumn("__asof_tgt", F.explode(targets))
      .groupBy(col("__asof_k"), col("__asof_tgt"))
      .agg(pick(col("__asof_s"), col("__asof_s")(RtCol)).as("__asof_s"))
      .select(col("__asof_s.*"), col("__asof_tgt").cast("long").as(BkCol))

    val rAug = rIn.unionByName(boundary)
    val lPlan = analyzed(lB)
    val rPlan = analyzed(rAug)
    def attr(plan: LogicalPlan, name: String): Attribute =
      plan.output.find(_.name == name).getOrElse(
        throw new IllegalArgumentException(s"column $name not found"))
    val node = AsOfJoinPlan(
      lPlan, rPlan,
      Seq(attr(lPlan, leftKey), attr(lPlan, BkCol)),
      Seq(attr(rPlan, rightKey), attr(rPlan, BkCol)),
      attr(lPlan, LtCol), attr(rPlan, RtCol),
      forward, toleranceSeconds.map(_ * 1000000L))
    GraftSqlShim.ofRows(sessionOf(left), node)
      .select((leftCols ++ payload).map(col): _*)
  }

  /** Shared front-door checks: the final select resolves BY NAME over
    * left ++ right, so any shared name is an ambiguity
    * AnalysisException (if selected) or a silent wrong-side pick —
    * require disjoint sides up front, and keep the internal columns
    * from shadowing caller columns.
    */
  private def validate(left: DataFrame, right: DataFrame,
      payload: Seq[String]): Unit = {
    val leftCols = left.columns.toSeq
    val rightCols = right.columns.toSeq
    require(!payload.exists(leftCols.contains),
      s"payload columns ${payload.filter(leftCols.contains)} collide with left columns")
    require(payload.forall(rightCols.contains),
      s"payload columns ${payload.filterNot(rightCols.contains)} not found on the right side")
    val overlap = leftCols.toSet intersect rightCols.toSet
    require(overlap.isEmpty,
      s"left/right column names must be disjoint; overlap: ${overlap.toSeq.sorted}")
    val reserved = Seq(LtCol, RtCol, BkCol)
    require(!reserved.exists(c => leftCols.contains(c) || rightCols.contains(c)),
      s"column names ${reserved.mkString("/")} are reserved by the as-of join")
  }

  private def analyzed(df: DataFrame): LogicalPlan = df.queryExecution.analyzed

  private def sessionOf(df: DataFrame): SparkSession = df.sparkSession
}
