package org.apache.spark.sql.graftshim

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.classic.{Dataset, ExpressionUtils}

/** Bridge to the classic module's `private[sql]` converters: Column ↔
  * Expression (the constructor `new Column(expr)` of Spark 3 is gone in
  * Spark 4) and logical plan → DataFrame (`Dataset.ofRows`, for the
  * engine's own plan node [[graft.plans.RasterPixels]]). Living under
  * org.apache.spark.sql.* is the established extension-library pattern;
  * this object is the single access point, and everything else in graft
  * uses only public APIs. */
object ColumnShim {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)
  def frame(spark: SparkSession, plan: LogicalPlan): DataFrame =
    Dataset.ofRows(spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)
}
