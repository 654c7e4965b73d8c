package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression

/** Bridge into `private[sql]` Column <-> Expression conversion for the
  * graft engine's custom Catalyst expressions (Spark 4 moved Column to a
  * ColumnNode representation; `classic.ExpressionUtils` is the supported
  * conversion point but is sql-package-private). */
object GraftBridge {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  /** Build a DataFrame from a raw LogicalPlan (classic.Dataset.ofRows
    * is sql-package-private) — the entry point for custom logical
    * nodes constructed by the library API rather than the optimizer
    * rewrite. */
  def ofRows(spark: SparkSession,
             plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  /** The analyzed logical plan of a DataFrame (to compose custom nodes
    * on top of resolved children). */
  def analyzed(df: DataFrame): org.apache.spark.sql.catalyst.plans.logical.LogicalPlan =
    df.asInstanceOf[classic.Dataset[Row]].queryExecution.analyzed

  /** The session's live autoBroadcastJoinThreshold in bytes (-1 =
    * disabled) — for operators that pick a join strategy from a size
    * bound the PLANNER cannot know (e.g. an iteratively-built edge
    * table bounded by k rows per node), so the decision stays
    * scale-adaptive instead of a hard-coded hint. */
  def autoBroadcastThreshold(spark: SparkSession): Long =
    spark.asInstanceOf[classic.SparkSession].sessionState.conf.autoBroadcastJoinThreshold

  /** Register a temp SQL function on a live session (the
    * SparkSessionExtensions path only applies at session build time;
    * this covers already-built sessions and tests). */
  def registerFunction(spark: SparkSession, name: String,
                       builder: Seq[Expression] => Expression): Unit =
    spark.asInstanceOf[classic.SparkSession].sessionState.functionRegistry
      .createOrReplaceTempFunction(name, builder, "scala_udf")
}
