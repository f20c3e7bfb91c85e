package org.apache.spark.sql.graft

import org.apache.spark.sql.{classic, Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.SparkStrategy

/** The one sanctioned bridge into `private[sql]` plan construction.
  *
  * Spark deliberately keeps `Dataset.ofRows` package-private: a custom
  * logical operator (graft's [[graft.plans.AsOfJoin]]) can only become a
  * user-facing `DataFrame` through it. Every Spark-native library that ships
  * its own operators (Delta, Sedona, …) carries exactly this shim — one
  * object inside `org.apache.spark.sql` whose whole job is to re-export the
  * constructor, keeping the rest of the codebase outside Spark's namespace.
  */
object PlanGlue {
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  /** The analyzed logical plan of a DataFrame (for embedding as a child of
    * a custom operator). */
  def analyzed(df: DataFrame): LogicalPlan = df.queryExecution.analyzed

  /** A Catalyst expression as a `Column` (the constructor is
    * `private[sql]` since the 4.x Column/ColumnNode split). */
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)

  /** Idempotently appends a planner strategy to the session's extra
    * strategies (the imperative twin of `injectPlannerStrategy`). */
  def addStrategy(spark: SparkSession,
                  s: SparkStrategy): Unit = {
    val cs = spark.asInstanceOf[classic.SparkSession]
    if (!cs.experimental.extraStrategies.contains(s))
      cs.experimental.extraStrategies = cs.experimental.extraStrategies :+ s
  }

  /** Rebuilds every cached plan that reads the table `name` (catalog,
    * namespace, table), as Spark's own v2 write commands do once they
    * commit. By name: a catalog that loads a fresh table object per
    * statement never matches the cached relation by plan. */
  def recache(spark: SparkSession, name: Seq[String]): Unit = {
    val cs = spark.asInstanceOf[classic.SparkSession]
    cs.sharedState.cacheManager.recacheTableOrView(cs, name)
  }

  /** Idempotently appends an optimizer rule (imperative twin of
    * `injectOptimizerRule`; runs in the post-hoc user batch). */
  def addOptimization(spark: SparkSession,
                      r: Rule[LogicalPlan]): Unit = {
    val cs = spark.asInstanceOf[classic.SparkSession]
    if (!cs.experimental.extraOptimizations.contains(r))
      cs.experimental.extraOptimizations =
        cs.experimental.extraOptimizations :+ r
  }
}
