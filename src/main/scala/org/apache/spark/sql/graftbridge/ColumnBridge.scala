package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Spark 4 removed the public Column(Expression) constructor; the supported
  * bridge lives in `org.apache.spark.sql.classic.ExpressionUtils`, which is
  * private[sql]. This shim (in the sql namespace, like other public Spark
  * extension libraries) re-exports just the two conversions the graft
  * custom expressions need, plus the Dataset and session constructors
  * below.
  */
object ColumnBridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** DataFrame over a hand-built logical plan (Dataset.ofRows went
    * private[sql] in Spark 4) — needed to surface custom LogicalPlan
    * nodes (graft.plans.AsOfJoin) as a public DataFrame API. */
  def ofRows(spark: org.apache.spark.sql.SparkSession,
      plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan)
      : org.apache.spark.sql.DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)

  /** A session with a copy of `spark`'s conf, temp views and registered
    * functions that shares its SparkContext and cache manager
    * (`cloneSession` is private[sql]). */
  def fork(spark: org.apache.spark.sql.SparkSession)
      : org.apache.spark.sql.SparkSession =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession].cloneSession()
}
