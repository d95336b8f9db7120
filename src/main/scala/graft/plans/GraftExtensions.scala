package graft.plans

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.FunctionRegistry.FunctionBuilder
import org.apache.spark.sql.catalyst.expressions.ExpressionInfo
import org.apache.spark.sql.graft.GraftSqlShim

import graft.functions.{CmsSketch, GraftFunctions}

/** Engine extension entry point (`spark.sql.extensions`, set by
  * [[graft.GraftSession.builder]]): graft's whole per-session surface.
  * Spark applies it to every session it creates — the builder's
  * session, each `newSession()` and each streaming query's clone — so
  * every session starts with graft's SQL functions, both optimizer
  * rules and the as-of planner strategy, and nothing registers later.
  *
  *   - Functions: the native kernels of [[GraftFunctions.builders]] and
  *     the Count-Min trio of [[CmsSketch.sqlFunctions]], callable from
  *     SQL and through `call_function`.
  *   - [[RangeBinJoinRule]] and [[AsOfRewriteRule]], each gated on its
  *     own conf and shipped disabled, so their presence never changes a
  *     plan until a query opts in.
  *
  * Each rule runs twice. The injected copy of the range-join rule runs
  * inside the operator-optimization fixpoint, which sits BEFORE
  * `RewriteSubquery`: a correlated `EXISTS` / `NOT EXISTS` time-window
  * predicate, or the as-of rule's correlated scalar subquery, only
  * becomes the join those rules match after decorrelation. So a second
  * copy of each goes into `experimental.extraOptimizations`, the "User
  * Provided Optimizers" batch after it. No extension hook reaches that
  * batch, so the append lives in the optimizer-rule builder: Spark calls
  * it with the session each time the optimizer builds its batches,
  * after the session state exists and before the batches read
  * `extraOptimizations`, so the late copies are there from the
  * session's first query on. The builder runs several times per query,
  * hence the check-and-append under the lock. The range-join rule's
  * equi-conjunct guard keeps its two copies from double-rewriting.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    def inject(name: String, build: FunctionBuilder): Unit =
      ext.injectFunction((FunctionIdentifier(name),
        new ExpressionInfo(classOf[GraftExtensions].getName, name), build))
    GraftFunctions.builders.foreach { case (name, build) => inject(name, build) }
    CmsSketch.sqlFunctions.foreach(u => inject(u.name, GraftSqlShim.expression(u, _)))
    ext.injectOptimizerRule { session =>
      GraftExtensions.appendLateRules(session)
      RangeBinJoinRule(session)
    }
    ext.injectPlannerStrategy(_ => AsOfJoinStrategy)
  }
}

object GraftExtensions {
  private def appendLateRules(session: SparkSession): Unit = {
    val x = session.experimental
    x.synchronized {
      val missing = Seq(RangeBinJoinRule(session), AsOfRewriteRule(session))
        .filterNot(r => x.extraOptimizations.exists(_.getClass == r.getClass))
      if (missing.nonEmpty) x.extraOptimizations ++= missing
    }
  }
}
