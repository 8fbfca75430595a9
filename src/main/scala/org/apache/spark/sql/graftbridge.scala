package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression

/** Minimal private[sql] bridge: Column ⇄ catalyst Expression, needed to
  * expose graft's native codegen expressions (graft.functions.DotProduct)
  * through the public Column API. Spark 4 wraps Columns in ColumnNodes;
  * the converters live in `classic.ExpressionUtils`, which is
  * private[sql] — this is the single file in the project compiled into
  * the spark namespace, and the only internal surface we touch. */
object GraftBridge {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  /** Register a function into an ALREADY-BUILT session (the
    * SparkSessionExtensions path in graft.plans.GraftExtensions only
    * applies at builder time; sessionState is private[sql]). */
  def registerFunction(spark: SparkSession, name: String,
      builder: Seq[Expression] => Expression): Unit =
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      name, builder, "scala_udf")

  /** Whether `spark`'s jobs run under their own session artifact state
    * (and so their own executor class loader). Resolves the session's
    * lazy artifact state. */
  def artifactIsolated(spark: SparkSession): Boolean =
    spark.sessionState.artifactManager.state != null
}
