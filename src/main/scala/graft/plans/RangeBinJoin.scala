package graft.plans

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate
import org.apache.spark.sql.catalyst.plans.{Inner, JoinType, LeftAnti, LeftSemi}
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.graft.GraftSqlShim
import org.apache.spark.sql.types.{DateType, LongType, TimestampType}

object RangeBinJoinRule {
  /** Bin width in seconds for the automatic range-join rewrite;
    * `0` (the default) disables the rule entirely; `auto` derives the
    * width from the interval side's max interval length at rewrite
    * time (one scalar side job, DPP-style).
    */
  val BinSecondsKey = "spark.graft.rangeJoin.binSeconds"

  /** Upper bound on an explicit bin width (~10 years). The guard is
    * not taste: `binSeconds * 1000000L` silently overflows Long for
    * absurd values, and the rule runs on EVERY plan of the session —
    * a malformed conf must never become a wrong plan.
    */
  val MaxBinSeconds: Long = 86400L * 3653

  /** The DataFrame entry: join `points` (timestamp `pointCol`) to
    * `intervals` ([`startCol`, `endCol`) half-open timestamps) at a
    * fixed bucket width of `bucketSeconds`, returning matched rows with
    * all columns of both inputs. It plans the plain
    * `p >= lo AND p < hi` join and applies the rule's own rewrite to
    * it, whatever [[BinSecondsKey]] says for the session.
    */
  def pointInInterval(
      points: DataFrame, intervals: DataFrame,
      pointCol: String, startCol: String, endCol: String,
      bucketSeconds: Long = 3600L): DataFrame = {
    require(bucketSeconds >= 1L && bucketSeconds <= MaxBinSeconds,
      s"bucketSeconds must be in [1, $MaxBinSeconds], got $bucketSeconds")
    val joined = points.join(intervals,
      col(pointCol) >= col(startCol) && col(pointCol) < col(endCol))
    val rewritten = joined.queryExecution.analyzed match {
      case j @ Join(l, r, Inner, Some(cond), hint) =>
        RangeBinJoinRule(points.sparkSession)
          .rewrite(j, Inner, l, r, cond, hint, Some(bucketSeconds * 1000000L))
      case _ => None
    }
    GraftSqlShim.ofRows(points.sparkSession, rewritten.getOrElse(
      throw new IllegalArgumentException(s"$pointCol in [$startCol, $endCol) " +
        "is not a bucketable point-in-interval join")))
  }
}

/** Automatic point-in-interval join rewrite.
  *
  * A SQL user writing the natural thing —
  * `FROM events e JOIN w ON e.ts >= w.lo AND e.ts < w.hi` — hands
  * Catalyst a join with NO equi key, which it can only plan as a
  * broadcast nested loop (or a cartesian product): O(points ×
  * intervals) comparisons, the canonical 100 TB non-starter. This
  * rule fixes it for ANY query on the session, inside the optimizer,
  * with no query rewrite (and, at a fixed width, for one DataFrame
  * through [[RangeBinJoinRule.pointInInterval]]):
  *
  *   - the point side gains a bucket column `unix_micros(p) DIV w`;
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
  * predicate is cheap). The rule runs inside the operator-optimization
  * fixpoint; its own output contains a cross-side equi conjunct, so it
  * can never match twice.
  *
  * The rewrite preserves the join's output attributes exactly (the
  * added bucket columns live only inside the new subtree), preserves
  * null semantics (a null point or bound buckets to null / an empty
  * sequence — no match, exactly like the original predicate), and
  * drops empty intervals (`hi <= lo`) that `sequence` would otherwise
  * step backwards through — rows the inner join could never emit.
  *
  * Reference behavior: verizon_automation_script.sh has no non-equi
  * join (Hive refuses them in the ON clause); this is north-star
  * surface.
  */
case class RangeBinJoinRule(session: SparkSession)
    extends Rule[LogicalPlan] with PredicateHelper {
  import RangeBinJoinRule._

  override def apply(plan: LogicalPlan): LogicalPlan = {
    // Robust conf parse: the rule runs inside the optimizer on EVERY
    // query of the session — a malformed value must disable the rewrite
    // (with a warning), never throw and fail unrelated queries.
    // `None` = disabled; `Some(None)` = auto width; `Some(Some(w))` =
    // fixed width in microseconds, bounded so the multiply cannot
    // overflow.
    val width: Option[Option[Long]] =
      conf.getConfString(BinSecondsKey, "0").trim match {
        case "" | "0"                        => None
        case a if a.equalsIgnoreCase("auto") => Some(None)
        case s => s.toLongOption match {
          case Some(v) if v >= 1L && v <= MaxBinSeconds =>
            Some(Some(v * 1000000L))
          case _ =>
            logWarning(s"$BinSecondsKey='$s' is not 'auto' or an integer " +
              s"in [1, $MaxBinSeconds]; range-join rewrite disabled")
            None
        }
      }
    width match {
      case None => plan
      case Some(fixed) => plan.transformUp {
        case j @ Join(left, right, jt @ (Inner | LeftSemi | LeftAnti),
            Some(cond), hint) =>
          rewrite(j, jt, left, right, cond, hint, fixed).getOrElse(j)
      }
    }
  }

  /** Auto mode: the bin width is the interval side's LONGEST interval,
    * measured at rewrite time by one scalar aggregation over the
    * interval subplan (the DPP idiom — a side job feeding a planning
    * decision). With w = max(hi - lo), every interval explodes into at
    * most TWO buckets, the amplification-optimal width when interval
    * lengths are of the same order; the side job scans only the
    * interval side — the windows/dimension relation of every
    * point-in-interval join, orders of magnitude smaller than the
    * points side the rewrite saves from the nested loop. An empty or
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
      val row = org.apache.spark.sql.graft.GraftSqlShim
        .ofRows(session, Aggregate(Nil, Seq(len), iSide)).collect().head
      if (row.isNullAt(0) || row.getLong(0) <= 0L) None
      else Some(math.min(math.max(row.getLong(0), 1000000L),
        MaxBinSeconds * 1000000L))
    } catch {
      case scala.util.control.NonFatal(e) =>
        logWarning("auto bin-width side job failed; " +
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

  private[plans] def rewrite(j: Join, jt: JoinType,
                      left: LogicalPlan, right: LogicalPlan,
                      cond: Expression, hint: JoinHint,
                      fixedBinMicros: Option[Long]): Option[LogicalPlan] = {
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
        fixedBinMicros.orElse(autoBinMicros(iSide, loM, hiM)).map { binMicros =>
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
