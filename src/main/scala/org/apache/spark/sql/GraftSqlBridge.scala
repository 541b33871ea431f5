package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

/** The one `private[sql]` doorway the engine needs: constructing a
  * Dataset from a custom LogicalPlan (graft.plans.AsOfJoin), and moving
  * between a Column and the Catalyst Expression under it (graft.gen's
  * generation kernels wrap a Column's expression in their own). Spark
  * deliberately keeps `Dataset.ofRows` and the Column/Expression
  * conversions internal; extension libraries that ship their own plan
  * nodes or expressions conventionally host a small bridge in this
  * package (the same technique Spark-native connector/lakehouse projects
  * use). Beyond these and the session hooks below (name resolver,
  * experimental strategies and optimizations), nothing else of the
  * internal surface is exposed. */
object GraftSqlBridge {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)

  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  def ofRows(s: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(s.asInstanceOf[classic.SparkSession], plan)

  def planOf(df: DataFrame): LogicalPlan =
    df.asInstanceOf[classic.Dataset[_]].queryExecution.analyzed

  /** Case-sensitivity-aware name resolver for the session (honors
    * spark.sql.caseSensitive), for custom operators that resolve
    * columns by name outside the analyzer. */
  def resolver(s: SparkSession): (String, String) => Boolean =
    s.asInstanceOf[classic.SparkSession].sessionState.analyzer.resolver

  // check-then-append on the experimental mutable Seqs is not atomic;
  // parallel suites sharing one session (every AsOfJoin.join calls
  // register) would race and append duplicates — synchronize to make
  // registration idempotent under concurrency
  def registerStrategy(s: SparkSession, strategy: execution.SparkStrategy): Unit =
    synchronized {
      val cs = s.asInstanceOf[classic.SparkSession]
      if (!cs.experimental.extraStrategies.contains(strategy))
        cs.experimental.extraStrategies = cs.experimental.extraStrategies :+ strategy
    }

  /** Spec hook: a freshly-built session's experimental strategies are
    * empty (extension-injected strategies live in the session state,
    * not here) — non-emptiness proves a recycled session. */
  def experimentalStrategies(s: SparkSession): Seq[execution.SparkStrategy] =
    s.asInstanceOf[classic.SparkSession].experimental.extraStrategies

  def registerOptimization(s: SparkSession,
      rule: catalyst.rules.Rule[catalyst.plans.logical.LogicalPlan]): Unit =
    synchronized {
      val cs = s.asInstanceOf[classic.SparkSession]
      if (!cs.experimental.extraOptimizations.contains(rule))
        cs.experimental.extraOptimizations = cs.experimental.extraOptimizations :+ rule
    }
}
