package org.apache.spark.sql.graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.classic.{Dataset, ExpressionUtils}
import org.apache.spark.sql.classic.ClassicConversions._

/** Spark 4 moved Column to the sql-api module (Columns wrap ColumnNodes,
  * not Expressions) and gated the classic bridge behind private[sql].
  * Custom Catalyst expressions still need Column⇄Expression conversion,
  * and a custom logical node needs a DataFrame over it, so this
  * one-file shim lives inside the sql package hierarchy — the
  * established pattern for Spark extension libraries.
  */
object Bridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    Dataset.ofRows(spark, plan)
}
