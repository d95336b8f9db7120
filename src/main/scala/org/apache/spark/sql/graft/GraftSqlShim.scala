package org.apache.spark.sql.graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.classic
import org.apache.spark.sql.execution.aggregate.ScalaAggregator
import org.apache.spark.sql.expressions.{SparkUserDefinedFunction, UserDefinedAggregator,
  UserDefinedFunction}

/** Compile-time bridge to the `private[sql]` entry points graft's
  * optimizer extension needs. This object lives under
  * `org.apache.spark.sql` for exactly that access (the same pattern
  * Spark-ecosystem extensions use); nothing else from the internal
  * surface is touched.
  */
object GraftSqlShim {
  /** A Dataset from a LOGICAL subplan. A Catalyst rule holds
    * `LogicalPlan` subtrees, not SQL text, so a DPP-style side job (e.g.
    * [[graft.plans.RangeBinJoinRule]]'s auto bin-width statistic over
    * the interval side) has no public way back into the query path.
    */
  def ofRows(session: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(session.asInstanceOf[classic.SparkSession], plan)

  /** The Catalyst expression of a Scala UDF or typed-`Aggregator` UDAF
    * applied to `children` — what `spark.udf.register` builds per call,
    * for a function injected through `SparkSessionExtensions`.
    */
  def expression(u: UserDefinedFunction, children: Seq[Expression]): Expression = u match {
    case a: UserDefinedAggregator[_, _, _] => ScalaAggregator(a, children)
    case f: SparkUserDefinedFunction => classic.UserDefinedFunctionUtils.toScalaUDF(f, children)
  }
}
