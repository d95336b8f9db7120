package graft.plans

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate
import org.apache.spark.sql.catalyst.plans.{Inner, JoinType, LeftAnti, LeftSemi}
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.catalyst.trees.TreePattern.JOIN
import org.apache.spark.sql.graft.GraftSqlShim
import org.apache.spark.sql.types.{DateType, LongType, TimestampType}

object RangeBinJoinRule {
  /** Upper bound on the data-derived bin width (~10 years). An interval
    * side whose longest interval is longer still is bucketed at this
    * width: its long intervals explode into more buckets, while a width
    * past it would put every point of real data into one or two buckets
    * and leave the equi key nothing to partition.
    */
  val MaxBinSeconds: Long = 86400L * 3653
}

/** Automatic point-in-interval join rewrite.
  *
  * A SQL user writing the natural thing —
  * `FROM events e JOIN w ON e.ts >= w.lo AND e.ts < w.hi` — hands
  * Catalyst a join with NO equi key, which it can only plan as a
  * broadcast nested loop (or a cartesian product): O(points ×
  * intervals) comparisons, the canonical 100 TB non-starter. This
  * rule fixes it for every query on every session, inside the
  * optimizer, with no query rewrite and no setting to turn it on:
  *
  *   - the point side gains a bucket column `unix_micros(p) DIV w`,
  *     where w is the interval side's longest interval, measured by
  *     one scalar side job at rewrite time;
  *   - the interval side explodes each interval into the buckets it
  *     overlaps (`sequence(lo DIV w, (hi-1µs) DIV w)` — half-open end,
  *     so an interval ending exactly on a bucket boundary does not
  *     claim that bucket);
  *   - the join becomes an EQUI join on the bucket plus the original
  *     predicate as residual, so Catalyst plans a hash/sort-merge join
  *     and each point is compared only against intervals sharing its
  *     bucket. Each point has exactly one bucket, so no match can
  *     duplicate and no post-join dedup is needed.
  *
  * Eligibility (deliberately narrow — a rewrite that fires on plans
  * the planner already handles well would be a pessimization): an
  * inner, left-semi, or left-anti join (the latter two are how
  * `EXISTS` / `NOT EXISTS` time-window predicates plan; for them the
  * point must sit on the LEFT — existence semantics absorb the
  * interval side's explosion, but an exploded OUTPUT side would
  * duplicate rows) whose condition contains a lower-AND-upper bound
  * sandwich on
  * the same point column — any strictness combination of
  * `p >=/> lo AND p </<= hi`, which includes the `BETWEEN` form — on
  * timestamp/long columns with the point on one side and both bounds
  * on the other, and NO equi conjunct across the sides (with an equi
  * key present the join already shuffles fine and the residual range
  * predicate is cheap). The rule runs in the "User Provided Optimizers"
  * batch ([[GraftExtensions]]), which repeats it only while the plan
  * changes; its own output contains a cross-side equi conjunct, so it
  * can never match twice.
  *
  * The rewrite preserves the join's output attributes exactly (the
  * added bucket columns live only inside the new subtree), preserves
  * null semantics (a null point or bound buckets to null / an empty
  * sequence — no match, exactly like the original predicate), and
  * drops empty intervals (`hi <= lo`) that `sequence` would otherwise
  * step backwards through — rows the inner join could never emit.
  *
  * [[GraftExtensions.withoutRule]] (Spark's own
  * `spark.sql.optimizer.excludedRules`, set to this class's name)
  * leaves a session's plans un-rewritten; the specs use that as the
  * nested-loop reference.
  *
  * Reference behavior: verizon_automation_script.sh has no non-equi
  * join (Hive refuses them in the ON clause); this is north-star
  * surface.
  */
case class RangeBinJoinRule(session: SparkSession)
    extends Rule[LogicalPlan] with PredicateHelper {
  import RangeBinJoinRule._

  override def apply(plan: LogicalPlan): LogicalPlan =
    plan.transformUpWithPruning(_.containsPattern(JOIN)) {
      case j @ Join(left, right, jt @ (Inner | LeftSemi | LeftAnti),
          Some(cond), hint) =>
        rewrite(j, jt, left, right, cond, hint).getOrElse(j)
    }

  /** The bin width: the interval side's LONGEST interval, capped at
    * [[RangeBinJoinRule.MaxBinSeconds]] and measured at rewrite time by
    * one scalar aggregation over the interval subplan (the DPP idiom —
    * a side job feeding a planning decision). With w = max(hi - lo),
    * every interval explodes into at most TWO buckets, the
    * amplification-optimal width when interval lengths are of the same
    * order.
    *
    * The side job evaluates the whole interval subplan, whatever it is:
    * a small dimension scan, or (as in `range_join_windows`) a DISTINCT
    * over the full events table. It runs once per optimization that
    * meets an eligible join, declined or not (the batch stops once a
    * pass leaves the plan unchanged), and nothing is reused across
    * optimizations: a frame whose plan is printed and then executed
    * optimizes, and pays the job, twice. An empty or
    * all-degenerate interval side yields no width and the rewrite is
    * skipped (the original join is already trivially cheap); a failed
    * side job likewise falls back to the unrewritten plan — the rule
    * must never turn a slow plan into a broken one.
    */
  private def autoBinMicros(
      iSide: LogicalPlan, loM: Expression, hiM: Expression): Option[Long] =
    try {
      val len = Alias(
        new aggregate.Max(Subtract(hiM, loM)).toAggregateExpression(),
        "_graft_max_interval")()
      val row = GraftSqlShim
        .ofRows(session, Aggregate(Nil, Seq(len), iSide)).collect().head
      if (row.isNullAt(0) || row.getLong(0) <= 0L) None
      else Some(math.min(math.max(row.getLong(0), 1000000L),
        MaxBinSeconds * 1000000L))
    } catch {
      case scala.util.control.NonFatal(e) =>
        logWarning("bin-width side job failed; " +
          "range-join rewrite skipped", e)
        None
    }

  /** `e` as a microseconds-since-epoch long, if its type supports it.
    * DateType routes through a session-zone cast to timestamp — the
    * same widening analysis applies when a date column meets a
    * timestamp bound, so date-validity intervals (the other common
    * non-equi shape) rewrite too.
    */
  private def micros(e: Expression): Option[Expression] = e.dataType match {
    case TimestampType => Some(UnixMicros(e))
    case LongType      => Some(e)
    case DateType =>
      Some(UnixMicros(Cast(e, TimestampType,
        Some(conf.sessionLocalTimeZone))))
    case _ => None
  }

  private def rewrite(j: Join, jt: JoinType,
                      left: LogicalPlan, right: LogicalPlan,
                      cond: Expression, hint: JoinHint): Option[LogicalPlan] = {
    val conjuncts = splitConjunctivePredicates(cond)
    def crossSide(a: Expression, b: Expression): Boolean =
      (a.references.nonEmpty && b.references.nonEmpty) &&
        ((a.references.subsetOf(left.outputSet) &&
          b.references.subsetOf(right.outputSet)) ||
         (a.references.subsetOf(right.outputSet) &&
          b.references.subsetOf(left.outputSet)))
    val hasEqui = conjuncts.exists {
      case EqualTo(a, b)       => crossSide(a, b)
      case EqualNullSafe(a, b) => crossSide(a, b)
      case _                   => false
    }
    if (hasEqui) return None

    // Normalize every comparison into its TWO candidate readings —
    // `a <= b` is "point b above lower bound a" or "point a below
    // upper bound b"; only the sandwich pairing below decides which —
    // as (point, bound, isLower, strict). Lower strictness never
    // changes the bucket math (floor(p) >= floor(lo) either way);
    // upper strictness decides whether an interval claims the bucket
    // its endpoint sits on (inclusive `p <= hi` — the BETWEEN form —
    // must explode through hi's own bucket, the off-by-one a
    // half-open-only implementation silently loses).
    val bounds = conjuncts.flatMap {
      case GreaterThanOrEqual(a, b) =>
        Seq((a, b, true, false), (b, a, false, false))
      case LessThanOrEqual(a, b) =>
        Seq((b, a, true, false), (a, b, false, false))
      case GreaterThan(a, b) =>
        Seq((a, b, true, true), (b, a, false, true))
      case LessThan(a, b) =>
        Seq((b, a, true, true), (a, b, false, true))
      case _ => Nil
    }
    // the point must be a plain column (one attribute); bounds may be
    // arbitrary expressions of the other side
    def sideOf(refs: AttributeSet): Option[LogicalPlan] =
      if (refs.nonEmpty && refs.subsetOf(left.outputSet)) Some(left)
      else if (refs.nonEmpty && refs.subsetOf(right.outputSet)) Some(right)
      else None

    val sandwich = for {
      (p1, lo, true, _)            <- bounds.view
      (p2, hi, false, upperStrict) <- bounds
      if p1.semanticEquals(p2)
      pSide <- sideOf(p1.references)
      loSide <- sideOf(lo.references)
      hiSide <- sideOf(hi.references)
      if (loSide eq hiSide) && !(loSide eq pSide)
      // EXISTS/NOT EXISTS (semi/anti): output is the left side alone,
      // and existence semantics absorb the interval explosion's row
      // duplication — but ONLY when the exploded side is the RIGHT.
      // A point on the right would put the explosion under the left,
      // duplicating output rows; skip that orientation.
      if jt == Inner || (pSide eq j.left)
      pM  <- micros(p1)
      loM <- micros(lo)
      hiM <- micros(hi)
    } yield (pSide, pM, loSide, lo, loM, hi, hiM, upperStrict)

    sandwich.headOption.flatMap {
      case (pSide, pM, iSide, lo, loM, hi, hiM, upperStrict) =>
        autoBinMicros(iSide, loM, hiM).map { binMicros =>
        val w = Literal(binMicros)
        val pBucket = Alias(IntegralDivide(pM, w), "_graft_pbucket")()
        val newPoints = Project(pSide.output :+ pBucket, pSide)
        val iBucket = AttributeReference("_graft_ibucket", LongType,
          nullable = true)()
        // half-open upper ends one µs early — an interval ending ON a
        // bucket boundary claims that bucket only when the endpoint
        // itself can match (inclusive)
        val hiEnd =
          if (upperStrict) Subtract(hiM, Literal(1L)) else hiM
        // an interval that admits no point is dropped, not exploded
        // backwards (sequence() would count DOWN through fabricated
        // buckets); for an inclusive upper, lo == hi is a single
        // matchable instant and must survive
        val nonEmpty =
          if (upperStrict) GreaterThan(hi, lo)
          else GreaterThanOrEqual(hi, lo)
        // Sequence is TimeZoneAwareExpression — without an explicit zone
        // it reports unresolved even over longs, and a post-analysis
        // rule must emit resolved trees
        val seq = new Sequence(
          IntegralDivide(loM, w),
          IntegralDivide(hiEnd, w),
          None, Some(conf.sessionLocalTimeZone))
        val newIntervals = Generate(Explode(seq),
          unrequiredChildIndex = Nil, outer = false, qualifier = None,
          generatorOutput = Seq(iBucket),
          child = Filter(nonEmpty, iSide))
        val bucketEq = EqualTo(pBucket.toAttribute, iBucket)
        val (nl, nr) =
          if (pSide eq j.left) (newPoints, newIntervals)
          else (newIntervals, newPoints)
        Project(j.output,
          Join(nl, nr, jt, Some(And(bucketEq, cond)), hint))
        }
    }
  }
}
