package graft.plans

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, Max, Min}
import org.apache.spark.sql.catalyst.plans.{Inner, LeftOuter}
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.catalyst.trees.TreePattern.{JOIN, PROJECT}
import org.apache.spark.sql.types.{DateType, DayTimeIntervalType, TimestampType}

/** Automatic as-of rewrite — the optimizer-rule front door to the
  * native as-of operator ([[AsOfJoinPlan]]).
  *
  * A SQL user with no ASOF JOIN keyword writes the natural thing — a
  * correlated scalar subquery:
  *
  * {{{
  *   SELECT e.*, (SELECT max(o.o_orderdate) FROM orders o
  *                WHERE o.o_custkey = e.user_id
  *                  AND o.o_orderdate <= e.ts) AS asof_date
  *   FROM events e
  * }}}
  *
  * Catalyst decorrelates that into the canonical domain-join sandwich:
  *
  * {{{
  *   Project [l.*, max#M AS asof_date]
  *   +- Join LeftOuter ((dom#D <=> lt) AND (rk = lk))
  *      :- L
  *      +- Aggregate [dom#D, rk], [max(rt) AS max#M, dom#D, rk]
  *         +- Join Inner (rt <= dom#D)
  *            :- Aggregate [lt], [lt AS dom#D]   // DISTINCT left times
  *            +- R
  * }}}
  *
  * whose inner join is pure-theta — |distinct left times| × |R|
  * nested-loop comparisons, the same 100 TB non-starter the range-join
  * rule closes for interval predicates. But the VALUE this plan
  * computes per left row — the greatest right time at or before the
  * left time within the key — is exactly the backward as-of match
  * time (and `min`/`>=` is the forward one). So the whole sandwich
  * collapses into the native operator:
  *
  * {{{
  *   Project [l.*, rt' AS asof_date]   // rt' = R's time attr, nullable
  *   +- AsOfJoin [lk], [rk], lt, rt, backward
  * }}}
  *
  * — two co-partitioned sorted exchanges and one merge pass instead of
  * a quadratic domain join, with identical results: one row per left
  * row either way (the aggregate made (dom, keys) unique; the as-of
  * match is unique by construction), null keys/times yield NULL in
  * both forms (the theta comparison rejects nulls; the merge skips
  * them), and ties at the matched time are no tie at all because the
  * surfaced value IS the time.
  *
  * Eligibility (deliberately narrow): exactly the decorrelated shape
  * above — one `max`(`min`) over the SAME attribute the non-strict
  * as-of theta conjunct compares (a strict `<`/`>` as-of bound is not
  * expressible as an inclusive as-of and is left alone), at least one
  * cross-side equi key, aggregate grouping exactly {domain} ∪ keys,
  * and a parent projection that references nothing else from the
  * subquery side (the domain/key passthrough attrs die with the
  * rewrite). Date columns ride through session-zone casts to
  * timestamp, both sides, mirroring the comparison the original plan
  * performed.
  *
  * The theta may carry ONE additional TOLERANCE conjunct — the
  * stale-quote bound a real user writes,
  * `AND rt >= e.ts - INTERVAL x` (backward) or
  * `AND rt <= e.ts + INTERVAL x` (forward) — which decorrelation
  * turns into `rt >= dom + INTERVAL '-x'` (`TimestampAddInterval` of
  * the domain attr with a folded interval literal). That maps onto
  * the operator's `toleranceMicros` directly. A STRICT tolerance
  * bound is also admissible: timestamps are microsecond-resolution,
  * so `rt > dom - x  <=>  rt >= dom - (x - 1µs)` — the rewrite
  * tightens the tolerance by one microsecond instead of bailing.
  *
  * Two provenance guards keep lookalikes out (advisor findings): the
  * domain aggregate must be the decorrelation-built DISTINCT of the
  * left time attribute — its grouping expression carries the SAME
  * exprId as the left-side attr the outer condition equates (sibling
  * subtrees of a hand-written query can never share exprIds) and its
  * single output is a pass-through alias of that grouping expression,
  * so a domain computed from another table (whose value set need not
  * cover the left's times) never fires. And when the aggregate ran
  * over a cast (`max(CAST(rt AS TIMESTAMP))`), the substituted
  * payload re-applies the identical cast so the alias keeps
  * `maxAttr`'s type — reusing the exprId with a different type would
  * silently retype every downstream consumer.
  *
  * The rule runs on every session's plans; nothing turns it on. Spark's
  * own `spark.sql.optimizer.excludedRules` (set to this class's name)
  * leaves a session's plans un-rewritten, the domain-join reference the
  * specs compare against.
  */
case class AsOfRewriteRule(session: SparkSession)
    extends Rule[LogicalPlan] with PredicateHelper {

  override def apply(plan: LogicalPlan): LogicalPlan =
    plan.transformUpWithPruning(_.containsAllPatterns(PROJECT, JOIN)) {
      case p @ Project(_, _: Join) =>
        rewrite(p).orElse(rewriteLateral(p)).getOrElse(p)
    }

  private def stripCast(e: Expression): Expression = e match {
    case c: Cast => stripCast(c.child)
    case other => other
  }

  /** Time expr in a type the as-of operator accepts, or None. */
  private def asTime(e: Expression): Option[Expression] = e.dataType match {
    case t if AsOfJoinNative.timeTypeOk(t) => Some(e)
    case DateType =>
      Some(Cast(e, TimestampType, Some(conf.sessionLocalTimeZone)))
    case _ => None
  }

  private def rewrite(p: Project): Option[LogicalPlan] = p.child match {
    case Join(l,
        Aggregate(gExprs, aExprs,
          Join(domAgg: Aggregate, r, Inner, Some(theta), _), _),
        LeftOuter, Some(cond), _) =>

      // the domain side: DISTINCT of one left expression, one output
      if (domAgg.aggregateExpressions.length != 1 ||
          domAgg.groupingExpressions.length != 1) return None
      val domAttr = domAgg.output.head

      // theta: ONE non-strict as-of conjunct against the domain attr —
      // rt <= dom (backward) / rt >= dom (forward) — plus optionally
      // ONE tolerance conjunct bounding rt to within an interval
      // literal of dom on the far side
      def asOf(c: Expression): Option[(Expression, Boolean)] = c match {
        case LessThanOrEqual(x, d: Attribute)
            if d.exprId == domAttr.exprId => Some((x, false))
        case GreaterThanOrEqual(d: Attribute, x)
            if d.exprId == domAttr.exprId => Some((x, false))
        case GreaterThanOrEqual(x, d: Attribute)
            if d.exprId == domAttr.exprId => Some((x, true))
        case LessThanOrEqual(d: Attribute, x)
            if d.exprId == domAttr.exprId => Some((x, true))
        case _ => None
      }
      // dom shifted by a folded day-time interval literal: the form
      // decorrelation + constant folding leave `e.ts ± INTERVAL x` in
      def domShift(e: Expression): Option[Long] = e match {
        case TimestampAddInterval(d: Attribute,
            Literal(micros: Long, _: DayTimeIntervalType), _)
            if d.exprId == domAttr.exprId => Some(micros)
        case _ => None
      }
      // a tolerance conjunct for the given direction: the bounded
      // expression and the tolerance in micros (strict bounds tighten
      // by 1µs — microsecond resolution makes > and >=−1µs identical)
      def tolerance(c: Expression, fwd: Boolean): Option[(Expression, Long)] = {
        val m: Option[(Expression, Long, Boolean)] = c match {
          case GreaterThanOrEqual(x, e) if !fwd =>
            domShift(e).map((x, _, false))
          case LessThanOrEqual(e, x) if !fwd =>
            domShift(e).map((x, _, false))
          case GreaterThan(x, e) if !fwd => domShift(e).map((x, _, true))
          case LessThan(e, x) if !fwd => domShift(e).map((x, _, true))
          case LessThanOrEqual(x, e) if fwd =>
            domShift(e).map((x, _, false))
          case GreaterThanOrEqual(e, x) if fwd =>
            domShift(e).map((x, _, false))
          case LessThan(x, e) if fwd => domShift(e).map((x, _, true))
          case GreaterThan(e, x) if fwd => domShift(e).map((x, _, true))
          case _ => None
        }
        m.flatMap { case (x, shift, strict) =>
          // backward bounds shift dom NEGATIVE (dom - tol); forward
          // POSITIVE — a shift the wrong way is not a tolerance
          val tol = if (fwd) shift else -shift
          if (tol < 0) None else Some((x, if (strict) tol - 1 else tol))
        }
      }
      val parsed = splitConjunctivePredicates(theta) match {
        case Seq(c) => asOf(c).map { case (x, fwd) => (x, fwd, None) }
        case Seq(c1, c2) =>
          asOf(c1).flatMap { case (x, fwd) =>
            tolerance(c2, fwd).map(t => (x, fwd, Some(t))) }
            .orElse(asOf(c2).flatMap { case (x, fwd) =>
              tolerance(c1, fwd).map(t => (x, fwd, Some(t))) })
        case _ => None
      }
      val (rtExpr, forward, tolParsed) = parsed.getOrElse(return None)
      if (!rtExpr.references.subsetOf(r.outputSet)) return None
      val rtAttr = stripCast(rtExpr) match {
        case a: Attribute if r.outputSet.contains(a) => a
        case _ => return None
      }
      // the tolerance bound must constrain the SAME right time column
      val tolMicros = tolParsed match {
        case None => None
        case Some((x, tol)) => stripCast(x) match {
          case a: Attribute if a.exprId == rtAttr.exprId => Some(tol)
          case _ => return None
        }
      }

      // the aggregate: exactly one agg function — max (backward) / min
      // (forward) of that same attribute — everything else passthrough
      val aggAliases = aExprs.flatMap(_.collect {
        case ae: AggregateExpression => ae
      })
      if (aggAliases.length != 1) return None
      val maxAlias = aExprs.collectFirst {
        case al @ Alias(AggregateExpression(f, _, false, None, _), _) =>
          (al, f)
      } match {
        case Some((al, f)) =>
          val ok = f match {
            case Max(c) if !forward => stripCast(c) == rtAttr
            case Min(c) if forward  => stripCast(c) == rtAttr
            case _ => false
          }
          if (!ok) return None
          al
        case None => return None
      }
      val maxAttr = maxAlias.toAttribute

      // grouping must be attributes: the domain plus the R-side keys
      val gAttrs = gExprs.map {
        case a: Attribute => a
        case _ => return None
      }
      if (!gAttrs.exists(_.exprId == domAttr.exprId)) return None
      val rKeysInGroup = gAttrs.filter(_.exprId != domAttr.exprId)
      if (!rKeysInGroup.forall(r.outputSet.contains)) return None

      // outer condition: (dom <=>/= lt) + equi keys, nothing else
      var ltAttrOpt: Option[Attribute] = None
      val keyPairs = scala.collection.mutable.ArrayBuffer
        .empty[(Attribute, Attribute)]
      def classify(a: Expression, b: Expression, nullSafe: Boolean): Boolean =
        (a, b) match {
          case (x: Attribute, y: Attribute)
              if x.exprId == domAttr.exprId && l.outputSet.contains(y) =>
            if (ltAttrOpt.isDefined) false else { ltAttrOpt = Some(y); true }
          case (x: Attribute, y: Attribute)
              if y.exprId == domAttr.exprId && l.outputSet.contains(x) =>
            if (ltAttrOpt.isDefined) false else { ltAttrOpt = Some(x); true }
          // key conjuncts must be plain equality: <=> would match
          // null-to-null keys, which the as-of merge (SQL-style) skips
          case (x: Attribute, y: Attribute) if !nullSafe &&
              rKeysInGroup.exists(_.exprId == x.exprId) &&
              l.outputSet.contains(y) =>
            keyPairs += ((y, x)); true
          case (x: Attribute, y: Attribute) if !nullSafe &&
              rKeysInGroup.exists(_.exprId == y.exprId) &&
              l.outputSet.contains(x) =>
            keyPairs += ((x, y)); true
          case _ => false
        }
      val allClassified = splitConjunctivePredicates(cond).forall {
        case EqualNullSafe(a, b) => classify(a, b, nullSafe = true)
        case EqualTo(a, b)       => classify(a, b, nullSafe = false)
        case _                   => false
      }
      if (!allClassified || ltAttrOpt.isEmpty || keyPairs.isEmpty) return None
      // every grouped key must be equated, or the aggregate's extra
      // grouping would have multiplied outer matches
      if (keyPairs.map(_._2.exprId).toSet !=
          rKeysInGroup.map(_.exprId).toSet) return None

      // PROVENANCE: the domain aggregate must be decorrelation's
      // DISTINCT of the left time attribute — grouping expr carries the
      // left attr's exprId (sibling subtrees of a hand-written query
      // can never share exprIds) and the single output passes the
      // grouping expr through. A domain built from another table need
      // not contain every left time value; rewriting such a plan would
      // turn its NULLs into real matches.
      val domGroupExpr = domAgg.groupingExpressions.head
      val domGroupOk = domGroupExpr match {
        case a: Attribute => a.exprId == ltAttrOpt.get.exprId
        case _ => false
      }
      val domPassThrough = domAgg.aggregateExpressions.head match {
        case Alias(c, _) => c.semanticEquals(domGroupExpr)
        case e => e.semanticEquals(domGroupExpr)
      }
      if (!domGroupOk || !domPassThrough) return None

      // the parent projection may use only L attrs and the aggregate
      // value — the domain/key passthroughs die with the rewrite
      val allowed = l.outputSet + maxAttr
      if (!p.projectList.forall(_.references.subsetOf(allowed))) return None

      val ltExpr = asTime(ltAttrOpt.get).getOrElse(return None)
      val rtTime = asTime(rtExpr).getOrElse(return None)
      if (ltExpr.dataType != rtTime.dataType) return None

      val node = AsOfJoinPlan(l, r,
        keyPairs.map(_._1).toSeq, keyPairs.map(_._2).toSeq,
        ltExpr, rtTime, forward, tolMicros)
      val rtPayload0 = node.output
        .find(_.exprId == rtAttr.exprId).getOrElse(return None)
      // preserve maxAttr's TYPE: an aggregate over a cast
      // (max(CAST(rt AS TIMESTAMP))) makes maxAttr TIMESTAMP while the
      // payload attr keeps rt's raw type — substituting it under
      // maxAttr's exprId would retype every downstream consumer, so
      // re-apply the identical cast
      val rtPayload: Expression =
        if (rtPayload0.dataType == maxAttr.dataType) rtPayload0
        else Cast(rtPayload0, maxAttr.dataType,
          Some(conf.sessionLocalTimeZone))
      val newList = p.projectList.map {
        case a: AttributeReference if a.exprId == maxAttr.exprId =>
          Alias(rtPayload, a.name)(exprId = a.exprId)
        case ne => ne.transform {
          case a: Attribute if a.exprId == maxAttr.exprId => rtPayload
        }.asInstanceOf[NamedExpression]
      }
      logInfo(s"as-of rewrite fired: keys=${keyPairs.length} " +
        s"forward=$forward tol=$tolMicros payload=${rtAttr.name}")
      Some(Project(newList, node))

    case _ => None
  }

  /** The PAYLOAD-bearing as-of spelling — a correlated LATERAL top-1:
    *
    * {{{
    *   SELECT e.*, q.px, q.ts FROM events e, LATERAL (
    *     SELECT px, ts FROM quotes q
    *     WHERE q.k = e.k AND q.ts <= e.ts
    *     ORDER BY q.ts DESC LIMIT 1) q
    * }}}
    *
    * Decorrelation turns it into the domain sandwich with a ranking
    * stage on top (probed shape, tools/Probe):
    *
    * {{{
    *   Project [l.*, payloads...]
    *   +- Join Inner ((dom#D <=> lt) AND (rk = lk))
    *      :- L
    *      +- Project [payloads..., dom#D, rk]
    *         +- Filter (rn <= 1)
    *            +- Window [row_number() over (partition by rk, dom
    *                 order by rt DESC)] ...
    *               +- WindowGroupLimit [rk, dom], [rt DESC], rn, 1
    *                  +- Project [...]
    *                     +- Join Inner (rt <= dom#D)
    *                        :- Aggregate [lt], [lt AS dom#D]
    *                        +- R
    * }}}
    *
    * — the same |distinct left times| × |R| nested-loop domain join as
    * the scalar form, PLUS a per-(key, domain-time) ranking of the full
    * right side. The value per left row is the as-of matched ROW, so
    * the sandwich collapses to the native operator with the payload
    * columns riding through:
    *
    * {{{
    *   Project [l.*, payloads...]
    *   +- Filter isnotnull(rt')     // inner lateral drops no-match rows
    *      +- AsOfJoin [lk], [rk], lt, rt, backward
    * }}}
    *
    * `ORDER BY rt DESC` with theta `rt <= dom` is backward; `ASC` with
    * `rt >= dom` forward. Same provenance guards as the scalar matcher:
    * the domain aggregate must be decorrelation's DISTINCT of the left
    * time attr (exprId equality + pass-through alias), the outer
    * condition must be exactly the null-safe domain equality plus plain
    * equi keys, and the window partition must be exactly {domain} ∪
    * keys (anything else would rank across different groups than the
    * join-back restores). Equivalence notes: a left row with a NULL
    * time or key gets no candidates in the original (theta/equality
    * reject nulls) and no match in the operator (the merge skips
    * nulls), so the IsNotNull filter drops it either way; ties at the
    * matched time are the operator's documented one-arbitrary-row
    * instability, identical in kind to row_number's pick among equal
    * sort keys.
    */
  private def rewriteLateral(p: Project): Option[LogicalPlan] = p.child match {
    // Inner = the comma-LATERAL spelling (drop no-match lefts);
    // LeftOuter = `LEFT [OUTER] JOIN LATERAL ... ON true` (keep them
    // with nulls) — identical decorrelated sandwich except the
    // join-back type (probed both, tools/Probe), and the operator's
    // null-match output IS the left-outer semantics directly
    case Join(l, rightSide, jt, Some(cond), _)
        if jt == Inner || jt == LeftOuter =>
      // 1. peel the ranking sandwich: Project? > Filter(rn<=1) >
      //    Window(row_number) > {Project | WindowGroupLimit |
      //    Filter(isnotnull...)}* > Join(domAgg, r, Inner, theta).
      //    Optimizer passes interleave extra nodes on real tables:
      //    InferFiltersFromConstraints adds isnotnull on the join keys
      //    and InferWindowGroupLimit re-fires around it (probed shape,
      //    tools/Probe) — so the walk collects them for verification
      //    instead of demanding one fixed layering.
      def peelProjects(plan: LogicalPlan): Option[LogicalPlan] = plan match {
        case Project(list, child) =>
          // attribute-only passthrough (decorrelation emits no compute here)
          if (list.forall(_.isInstanceOf[Attribute])) peelProjects(child)
          else None
        case other => Some(other)
      }
      val (rnCond, windowNode) = peelProjects(rightSide) match {
        case Some(Filter(c, w: Window)) => (c, w)
        case _ => return None
      }
      // the rank filter: rn <= 1 or rn = 1 over the window's row_number
      val rnAlias = windowNode.windowExpressions match {
        case Seq(al @ Alias(WindowExpression(_: RowNumber, _), _)) => al
        case _ => return None
      }
      val rnOk = rnCond match {
        case LessThanOrEqual(a: Attribute, Literal(1, _)) =>
          a.exprId == rnAlias.exprId
        case EqualTo(a: Attribute, Literal(1, _)) => a.exprId == rnAlias.exprId
        case _ => false
      }
      if (!rnOk) return None
      // below the window: WindowGroupLimits must be limit-1 (specs
      // verified against the window once the keys are known); Filters
      // may only be conjunctions of isnotnull over attributes (legality
      // verified below: keys/time only — a null key or time can never
      // be the as-of match, so dropping those rows early is neutral,
      // while a null-rejection on a PAYLOAD column would change which
      // row matches and must bail)
      val wgls = scala.collection.mutable.ArrayBuffer
        .empty[(Seq[Expression], Seq[SortOrder])]
      val notNullAttrs = scala.collection.mutable.ArrayBuffer.empty[Attribute]
      // the NEAREST spelling (`ORDER BY d, rt LIMIT 1` with
      // `d = abs(rt - e.ts)` computed in the subquery's select list)
      // decorrelates with the |Δt| alias COMPUTED in the project under
      // the WindowGroupLimits — record it (at most one) instead of
      // bailing on the non-attribute projection
      var absAlias: Option[Alias] = None
      def peelBelow(plan: LogicalPlan): Option[LogicalPlan] = plan match {
        case Project(list, child) =>
          val aliases = list.collect { case a: Alias => a }
          if (!list.forall(e => e.isInstanceOf[Attribute] || e.isInstanceOf[Alias]))
            None
          else if (aliases.isEmpty) peelBelow(child)
          else if (aliases.length == 1 && absAlias.isEmpty) {
            absAlias = Some(aliases.head); peelBelow(child)
          } else None
        case WindowGroupLimit(ps, os, _, 1, child) =>
          wgls += ((ps, os)); peelBelow(child)
        case Filter(c, child) =>
          splitConjunctivePredicates(c).foreach {
            case IsNotNull(a: Attribute) => notNullAttrs += a
            case _ => return None
          }
          peelBelow(child)
        case other => Some(other)
      }
      // theta = None is the nearest sandwich: decorrelation of the
      // key-only correlation builds an UNCONDITIONED domain × right
      // cross join (the catastrophic shape this rewrite deletes)
      val (domAgg, r, thetaOpt) = peelBelow(windowNode.child) match {
        case Some(Join(da: Aggregate, rr, Inner, t, _)) => (da, rr, t)
        case _ => return None
      }

      // 2. the domain side: DISTINCT of one expression, one output
      if (domAgg.aggregateExpressions.length != 1 ||
          domAgg.groupingExpressions.length != 1) return None
      val domAttr = domAgg.output.head

      // 3. theta: ONE non-strict as-of conjunct against the domain
      //    attr, plus optionally ONE tolerance conjunct — the same
      //    grammar as the scalar matcher (the stale-quote bound
      //    `AND rt >= e.ts - INTERVAL x` decorrelates to
      //    `rt >= dom + INTERVAL '-x'`; strict bounds tighten by 1µs)
      def asOfConj(c: Expression): Option[(Expression, Boolean)] = c match {
        case LessThanOrEqual(x, d: Attribute)
            if d.exprId == domAttr.exprId => Some((x, false))
        case GreaterThanOrEqual(d: Attribute, x)
            if d.exprId == domAttr.exprId => Some((x, false))
        case GreaterThanOrEqual(x, d: Attribute)
            if d.exprId == domAttr.exprId => Some((x, true))
        case LessThanOrEqual(d: Attribute, x)
            if d.exprId == domAttr.exprId => Some((x, true))
        case _ => None
      }
      def domShift(e: Expression): Option[Long] = e match {
        case TimestampAddInterval(d: Attribute,
            Literal(micros: Long, _: DayTimeIntervalType), _)
            if d.exprId == domAttr.exprId => Some(micros)
        case _ => None
      }
      def tolConj(c: Expression, fwd: Boolean): Option[(Expression, Long)] = {
        val m: Option[(Expression, Long, Boolean)] = c match {
          case GreaterThanOrEqual(x, e) if !fwd => domShift(e).map((x, _, false))
          case LessThanOrEqual(e, x) if !fwd => domShift(e).map((x, _, false))
          case GreaterThan(x, e) if !fwd => domShift(e).map((x, _, true))
          case LessThan(e, x) if !fwd => domShift(e).map((x, _, true))
          case LessThanOrEqual(x, e) if fwd => domShift(e).map((x, _, false))
          case GreaterThanOrEqual(e, x) if fwd => domShift(e).map((x, _, false))
          case LessThan(x, e) if fwd => domShift(e).map((x, _, true))
          case GreaterThan(e, x) if fwd => domShift(e).map((x, _, true))
          case _ => None
        }
        m.flatMap { case (x, shift, strict) =>
          val tol = if (fwd) shift else -shift
          if (tol < 0) None else Some((x, if (strict) tol - 1 else tol))
        }
      }
      val (rtAttr, forward, tolMicros, nearestMode) = thetaOpt match {
        case Some(theta) =>
          // a computing projection below the window has no place in the
          // backward/forward sandwich — provenance fails
          if (absAlias.isDefined) return None
          val parsedTheta = splitConjunctivePredicates(theta) match {
            case Seq(c) => asOfConj(c).map { case (x, fwd) => (x, fwd, None) }
            case Seq(c1, c2) =>
              asOfConj(c1).flatMap { case (x, fwd) =>
                tolConj(c2, fwd).map(t => (x, fwd, Some(t))) }
                .orElse(asOfConj(c2).flatMap { case (x, fwd) =>
                  tolConj(c1, fwd).map(t => (x, fwd, Some(t))) })
            case _ => None
          }
          val (rtExpr, fwd0, tolParsed) = parsedTheta.getOrElse(return None)
          if (!rtExpr.references.subsetOf(r.outputSet)) return None
          val rt0 = stripCast(rtExpr) match {
            case a: Attribute if r.outputSet.contains(a) => a
            case _ => return None
          }
          // the tolerance bound must constrain the SAME right time column
          val tol0 = tolParsed match {
            case None => None
            case Some((x, tol)) => stripCast(x) match {
              case a: Attribute if a.exprId == rt0.exprId => Some(tol)
              case _ => return None
            }
          }
          // 4. the sort must rank the SAME time attribute in the
          //    direction matching the theta (DESC = latest-at-or-before
          //    = backward; ASC = earliest-at-or-after = forward); null
          //    placement is irrelevant — the theta rejected null times
          val sortOk = windowNode.orderSpec match {
            case Seq(SortOrder(se, dir, _, _)) =>
              (stripCast(se) match {
                case a: Attribute => a.exprId == rt0.exprId
                case _ => false
              }) && (dir == (if (fwd0) Ascending else Descending))
            case _ => false
          }
          if (!sortOk) return None
          (rt0, fwd0, tol0, false)

        case None =>
          // NEAREST grammar: no theta; the peeled projection computed
          // d = abs(rt - dom) (either operand order; timestamps
          // subtract via SubtractTimestamps, longs via Subtract), and
          // the window sorts (d ASC, rt ASC). The rt ASC tie-break IS
          // the operator's equidistant-tie-takes-prior rule — without
          // an explicit tie-break the subquery's pick among equidistant
          // candidates is nondeterministic and the rewrite must not
          // pin one.
          val d = absAlias.getOrElse(return None)
          val operands = d.child match {
            case Abs(inner, _) => inner match {
              case st: SubtractTimestamps => Some((st.left, st.right))
              case Subtract(x, y, _) => Some((x, y))
              case _ => None
            }
            case _ => None
          }
          val (o1, o2) = operands.getOrElse(return None)
          def attrOf(e: Expression): Option[Attribute] = stripCast(e) match {
            case a: Attribute => Some(a)
            case _ => None
          }
          val rt0 = (attrOf(o1), attrOf(o2)) match {
            case (Some(a), Some(b))
                if a.exprId == domAttr.exprId && r.outputSet.contains(b) => b
            case (Some(a), Some(b))
                if b.exprId == domAttr.exprId && r.outputSet.contains(a) => a
            case _ => return None
          }
          val sortOk = windowNode.orderSpec match {
            case Seq(SortOrder(d1: Attribute, Ascending, _, _),
                SortOrder(se2, Ascending, _, _)) =>
              d1.exprId == d.exprId && (stripCast(se2) match {
                case a: Attribute => a.exprId == rt0.exprId
                case _ => false
              })
            case _ => false
          }
          if (!sortOk) return None
          (rt0, false, None, true)
      }

      // 5. outer condition: (dom <=> lt) + plain equi keys, nothing else
      var ltAttrOpt: Option[Attribute] = None
      val keyPairs = scala.collection.mutable.ArrayBuffer
        .empty[(Attribute, Attribute)]
      val rOut = r.outputSet
      def classify(a: Expression, b: Expression, nullSafe: Boolean): Boolean =
        (a, b) match {
          case (x: Attribute, y: Attribute)
              if x.exprId == domAttr.exprId && l.outputSet.contains(y) =>
            if (ltAttrOpt.isDefined) false else { ltAttrOpt = Some(y); true }
          case (x: Attribute, y: Attribute)
              if y.exprId == domAttr.exprId && l.outputSet.contains(x) =>
            if (ltAttrOpt.isDefined) false else { ltAttrOpt = Some(x); true }
          case (x: Attribute, y: Attribute) if !nullSafe &&
              rOut.contains(x) && l.outputSet.contains(y) =>
            keyPairs += ((y, x)); true
          case (x: Attribute, y: Attribute) if !nullSafe &&
              rOut.contains(y) && l.outputSet.contains(x) =>
            keyPairs += ((x, y)); true
          case _ => false
        }
      val allClassified = splitConjunctivePredicates(cond).forall {
        case EqualNullSafe(a, b) => classify(a, b, nullSafe = true)
        case EqualTo(a, b)       => classify(a, b, nullSafe = false)
        case _                   => false
      }
      if (!allClassified || ltAttrOpt.isEmpty || keyPairs.isEmpty) return None

      // 6. window partition must be exactly {domain} ∪ equated keys
      val partIds = windowNode.partitionSpec.map {
        case a: Attribute => a.exprId
        case _ => return None
      }.toSet
      if (partIds != keyPairs.map(_._2.exprId).toSet + domAttr.exprId)
        return None
      // every peeled WindowGroupLimit must rank under the SAME spec —
      // they were inferred FROM this window, but verify rather than trust
      for ((ps, os) <- wgls) {
        val wglIds = ps.map {
          case a: Attribute => a.exprId
          case _ => return None
        }.toSet
        if (wglIds != partIds || os != windowNode.orderSpec) return None
      }
      // peeled null-rejections may only touch the keys or the time:
      // those rows can never be the as-of match either way
      val nullOkIds = keyPairs.map(_._2.exprId).toSet + rtAttr.exprId
      if (!notNullAttrs.forall(a => nullOkIds.contains(a.exprId)))
        return None

      // NEAREST soundness: the theta grammars reject null times
      // structurally (a null never satisfies rt <= dom), but the
      // nearest sandwich has no theta — a NULL time reaches the sort,
      // where `d ASC NULLS FIRST` would PICK the null-distance row
      // while the operator never matches nulls. Demand non-null
      // evidence for both time columns (non-nullable attr, a peeled
      // IsNotNull, or a plan constraint — the spelling's `WHERE ts IS
      // NOT NULL` conjuncts land as one of these) and bail otherwise:
      // the unrewritten plan stays correct, just slow.
      def nonNullEvidence(plan: LogicalPlan, a: Attribute): Boolean =
        !a.nullable || plan.constraints.exists {
          case IsNotNull(e) => stripCast(e) match {
            case x: Attribute => x.exprId == a.exprId
            case _ => false
          }
          case _ => false
        }
      if (nearestMode) {
        if (!nonNullEvidence(l, ltAttrOpt.get)) return None
        if (!(notNullAttrs.exists(_.exprId == rtAttr.exprId) ||
            nonNullEvidence(r, rtAttr))) return None
      }

      // 7. PROVENANCE (same argument as the scalar matcher): the domain
      //    aggregate must be decorrelation's DISTINCT of the left time
      val domGroupExpr = domAgg.groupingExpressions.head
      val domGroupOk = domGroupExpr match {
        case a: Attribute => a.exprId == ltAttrOpt.get.exprId
        case _ => false
      }
      val domPassThrough = domAgg.aggregateExpressions.head match {
        case Alias(c, _) => c.semanticEquals(domGroupExpr)
        case e => e.semanticEquals(domGroupExpr)
      }
      if (!domGroupOk || !domPassThrough) return None

      // 8. the parent projection may use only L attrs and R attrs (the
      //    payloads); the domain/rank passthroughs die with the rewrite
      val allowed = l.outputSet ++ rOut
      if (!p.projectList.forall(_.references.subsetOf(allowed))) return None

      val ltExpr = asTime(ltAttrOpt.get).getOrElse(return None)
      val rtTime = asTime(rtAttr).getOrElse(return None)
      if (ltExpr.dataType != rtTime.dataType) return None

      val node = AsOfJoinPlan(l, r,
        keyPairs.map(_._1).toSeq, keyPairs.map(_._2).toSeq,
        ltExpr, rtTime, forward, tolMicros, nearestMode)
      val rtOut = node.output
        .find(_.exprId == rtAttr.exprId).getOrElse(return None)
      logInfo(s"as-of LATERAL rewrite fired: type=$jt keys=${keyPairs.length} " +
        s"forward=$forward nearest=$nearestMode tol=$tolMicros " +
        s"payloads=${rOut.map(_.name).mkString(",")}")
      // inner lateral semantics: a left row with no match is dropped —
      // the operator emits it with a NULL matched time, so filter on
      // it; the LEFT OUTER spelling keeps those rows with nulls, which
      // is the operator's output as-is
      if (jt == Inner)
        Some(Project(p.projectList, Filter(IsNotNull(rtOut), node)))
      else
        Some(Project(p.projectList, node))

    case _ => None
  }
}
