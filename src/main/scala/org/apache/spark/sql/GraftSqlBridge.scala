package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression

/** Bridge to the `private[sql]` Column ↔ Expression converters, so
  * graft's custom Catalyst expressions (e.g. ZipFold) can be
  * exposed as ordinary `Column`s. Standard extension-package pattern:
  * Spark 4 routes Column construction through
  * `classic.ExpressionUtils` (columnNodeSupport.scala) and no longer
  * offers a public constructor.
  */
object GraftSqlBridge {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  /** Register a custom expression under a SQL-callable name in an
    * existing session (for sessions not built with GraftExtensions).
    */
  def registerFunction(spark: SparkSession, name: String,
                       builder: Seq[Expression] => Expression): Unit =
    spark.asInstanceOf[classic.SparkSession].sessionState.functionRegistry
      .createOrReplaceTempFunction(name, builder, "scala_udf")

  /** Analyzed logical plan of a DataFrame (the input custom logical
    * nodes are built from).
    */
  def analyzed(df: DataFrame): catalyst.plans.logical.LogicalPlan =
    df.asInstanceOf[classic.Dataset[Row]].queryExecution.analyzed

  /** Wrap a (possibly custom) logical plan back into a DataFrame. */
  def ofRows(spark: SparkSession, plan: catalyst.plans.logical.LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  /** Idempotently add a planner strategy to an existing session (for
    * sessions not built with GraftExtensions).
    */
  def ensureStrategy(spark: SparkSession, s: execution.SparkStrategy): Unit = {
    val exp = spark.asInstanceOf[classic.SparkSession].experimental
    if (!exp.extraStrategies.contains(s)) exp.extraStrategies = exp.extraStrategies :+ s
  }

  /** Block until every event posted to the `private[spark]` listener
    * bus so far has been delivered, so a listener's counts cover every
    * job already started.
    */
  def drainListenerBus(spark: SparkSession): Unit =
    spark.sparkContext.listenerBus.waitUntilEmpty()
}
