package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.classic.{Dataset, ExpressionUtils}

/** Minimal bridge into `private[sql]` API (the same access pattern every
  * Spark extension library uses):
  *
  *  - `column` / `expression` convert between the public [[Column]] and
  *    Catalyst [[Expression]] worlds, so custom codegen'd expressions
  *    surface as normal Columns;
  *  - `ofRows` runs a (parsed or partly analyzed) [[LogicalPlan]] as a
  *    DataFrame, so the streaming window route can analyze the statement
  *    Spark parsed once, with executor plans spliced into it.
  *
  * Nothing else from the private surface is touched. */
object Bridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    Dataset.ofRows(spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession],
      plan)
}
