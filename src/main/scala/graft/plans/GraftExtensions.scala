package graft.plans

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.FunctionRegistry.FunctionBuilder
import org.apache.spark.sql.catalyst.expressions.ExpressionInfo
import org.apache.spark.sql.graft.GraftSqlShim
import org.apache.spark.sql.internal.SQLConf

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
  *   - [[AsOfRewriteRule]] and [[RangeBinJoinRule]], always on: each
  *     rewrites only its own narrow shape (a decorrelated as-of
  *     subquery; a non-equi point-in-interval join) and returns the
  *     same rows as the plan it replaces. [[GraftExtensions.withoutRule]]
  *     leaves either out, through Spark's own
  *     `spark.sql.optimizer.excludedRules`.
  *
  * Both rules run in one place: `experimental.extraOptimizations`, the
  * "User Provided Optimizers" batch near the end of the logical
  * optimizer. Only there has `RewriteSubquery` turned a correlated
  * `EXISTS` / `NOT EXISTS` time-window predicate into the join the
  * range rule matches, and has a correlated scalar subquery settled
  * into the shape the as-of rule matches. The as-of rule goes first: a
  * tolerance-bounded as-of (`rt <= t AND rt >= t - INTERVAL 1 HOUR`)
  * decorrelates into a domain join that is also a point-in-interval
  * sandwich, and the as-of rule collapses the whole subquery into one
  * merge, which a range rewrite of its inner join would rule out. The
  * batch runs to a fixed point; the range rule's output carries an equi
  * conjunct, so its second pass leaves a rewritten join alone.
  *
  * No extension hook reaches that batch, so the append lives in a
  * check-rule builder, whose check does nothing: Spark calls the
  * builder with the session when it builds that session's analyzer,
  * before the session's first query is analyzed, let alone optimized.
  * A session cloned after that copies its parent's
  * `extraOptimizations`, hence the check-and-append under the lock.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    def inject(name: String, build: FunctionBuilder): Unit =
      ext.injectFunction((FunctionIdentifier(name),
        new ExpressionInfo(classOf[GraftExtensions].getName, name), build))
    GraftFunctions.builders.foreach { case (name, build) => inject(name, build) }
    CmsSketch.sqlFunctions.foreach(u => inject(u.name, GraftSqlShim.expression(u, _)))
    ext.injectCheckRule { session =>
      GraftExtensions.appendRules(session)
      _ => ()
    }
    ext.injectPlannerStrategy(_ => AsOfJoinStrategy)
  }
}

object GraftExtensions {
  private def appendRules(session: SparkSession): Unit = {
    val x = session.experimental
    x.synchronized {
      val missing = Seq(AsOfRewriteRule(session), RangeBinJoinRule(session))
        .filterNot(r => x.extraOptimizations.exists(_.getClass == r.getClass))
      if (missing.nonEmpty) x.extraOptimizations ++= missing
    }
  }

  /** `body` with optimizer rule `rule` left out of every batch of
    * `session`, through Spark's own `spark.sql.optimizer.excludedRules`:
    * the un-rewritten reference the rewrite specs and `tools.Stress`
    * compare against. Rules already excluded stay excluded, and the
    * key's previous value comes back afterwards. Force results inside
    * `body`: a lazy frame optimizes when its first action runs.
    */
  def withoutRule[A](session: SparkSession, rule: Class[_])(body: => A): A = {
    val key = SQLConf.OPTIMIZER_EXCLUDED_RULES.key
    val prev = session.conf.getOption(key)
    session.conf.set(key,
      (prev.filter(_.nonEmpty).toSeq :+ rule.getName).mkString(","))
    try body finally prev match {
      case Some(v) => session.conf.set(key, v)
      case None    => session.conf.unset(key)
    }
  }
}
