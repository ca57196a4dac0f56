package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression

/** Minimal bridge into Spark's `private[sql]` Column↔Expression converters
  * (Spark 4 hides the constructors behind ColumnNode). Lives in the
  * org.apache.spark.sql package solely to satisfy access — the standard
  * technique for out-of-tree Catalyst extensions. */
object GraftBridge {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  /** Eagerly converted Catalyst expression (Spark 4's `expression` wraps
    * the ColumnNode lazily, which custom logical nodes can't carry —
    * the wrapper survives analysis unresolved and isn't serializable). */
  def eagerExpression(c: Column): Expression =
    classic.ColumnNodeToExpressionConverter(c.node)

  /** DataFrame over a custom LogicalPlan (analyzer runs on it). */
  def ofRows(spark: SparkSession,
      plan: catalyst.plans.logical.LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  /** `schema` with every field, nested ones too, nullable — what a
    * file relation's data schema is (`asNullable` is private[spark]). */
  def asNullable(schema: types.StructType): types.StructType =
    schema.asNullable

  /** The session's SQL conf (`sessionState` is private[sql]). */
  def sqlConf(spark: SparkSession): internal.SQLConf =
    spark.asInstanceOf[classic.SparkSession].sessionState.conf

  /** `body` run with `spark` as the thread's active session, so
    * `SQLConf.get` reads its conf (`withActive` is private[sql]). */
  def withActive[T](spark: SparkSession)(body: => T): T =
    spark.asInstanceOf[classic.SparkSession].withActive(body)

  /** The (pre-analysis) logical plan backing a Dataset. */
  def plan(df: Dataset[_]): catalyst.plans.logical.LogicalPlan =
    df.asInstanceOf[classic.Dataset[_]].logicalPlan

  /** The session's unique id (`sessionUUID` is private[sql]) — a
    * collision-free cache key where identityHashCode is not. */
  def sessionId(spark: SparkSession): String =
    spark.asInstanceOf[classic.SparkSession].sessionUUID
}
