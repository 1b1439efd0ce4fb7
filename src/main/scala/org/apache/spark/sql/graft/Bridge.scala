package org.apache.spark.sql.graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.classic.{Dataset, ExpressionUtils}
import org.apache.spark.sql.classic.ClassicConversions._
import org.apache.spark.sql.internal.SQLConf

/** Spark 4 moved Column to the sql-api module (Columns wrap ColumnNodes,
  * not Expressions) and gated the classic bridge behind private[sql].
  * Custom Catalyst expressions still need Column⇄Expression conversion,
  * and a custom logical node needs a DataFrame over it, so this
  * one-file shim lives inside the sql package hierarchy — the
  * established pattern for Spark extension libraries. It also reaches
  * the session clone a cached plan is planned in (see graft.Shared).
  */
object Bridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    Dataset.ofRows(spark, plan)

  /** `spark`, or its clone, with the configs `CacheManager` turns off
    * before it plans a cached table: auto bucketed scan, and AQE's
    * final-stage shuffle optimizations unless a cached plan may change
    * its output partitioning. */
  def cachedPlanSession(spark: SparkSession): SparkSession = {
    val keep = spark.sessionState.conf
      .getConf(SQLConf.CAN_CHANGE_CACHED_PLAN_OUTPUT_PARTITIONING)
    org.apache.spark.sql.classic.SparkSession.getOrCloneSessionWithConfigsOff(
      spark, SQLConf.AUTO_BUCKETED_SCAN_ENABLED +: (if (keep) Nil
        else Seq(SQLConf.ADAPTIVE_EXECUTION_APPLY_FINAL_STAGE_SHUFFLE_OPTIMIZATIONS)))
  }

  def withActive[T](spark: SparkSession)(f: => T): T = spark.withActive(f)
}
