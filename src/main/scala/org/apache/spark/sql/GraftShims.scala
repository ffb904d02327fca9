package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression

/** Bridge to `private[sql]` Column↔Expression conversion (Spark 4
  * split the Column API from Catalyst; extensions that define native
  * expressions need this standard shim). */
object GraftShims {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  /** Analyzed logical plan of a DataFrame (for composing custom
    * logical operators over existing frames). */
  def logicalPlan(df: DataFrame):
      org.apache.spark.sql.catalyst.plans.logical.LogicalPlan =
    df.queryExecution.analyzed

  /** `TypeCollection` (an either-of input-type contract for
    * `ImplicitCastInputTypes`) is private[sql]. */
  def typeCollection(ts: org.apache.spark.sql.types.AbstractDataType*):
      org.apache.spark.sql.types.AbstractDataType =
    org.apache.spark.sql.types.TypeCollection(ts: _*)

  /** Wrap a (resolved) logical plan back into a DataFrame —
    * `Dataset.ofRows` is private[sql]. */
  def dataFrame(s: SparkSession,
      plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): DataFrame =
    classic.Dataset.ofRows(s.asInstanceOf[classic.SparkSession], plan)

  /** The session's unique id — `sessionUUID` is private[sql]. */
  def sessionId(s: SparkSession): String =
    s.asInstanceOf[classic.SparkSession].sessionUUID
}
