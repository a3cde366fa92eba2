package org.apache.spark.sql.graft

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.SparkListenerJobStart
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd

/** Bridge into `private[sql]` surface: Column ⇄ Expression conversion,
  * LogicalPlan → DataFrame construction for custom operators, a finished
  * SQL execution's planning time, and the `private[spark]` listener bus
  * and job-group key. This is the
  * same mechanism third-party Spark extension libraries use; the
  * underlying calls are stable across the 4.x classic API.
  */
object bridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)
  def analyzedPlan(df: DataFrame): LogicalPlan = df.queryExecution.analyzed

  /** Waits until the listener bus has delivered every event posted so
    * far, so listener tallies read right after an action include it.
    */
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  /** Milliseconds that analysis, optimization and planning took in a
    * finished SQL execution of `action` (e.g. "count"); None for any
    * other execution.
    */
  def planningMs(e: SparkListenerSQLExecutionEnd, action: String): Option[Long] =
    Option(e.qe).filter(_ => e.executionName.contains(action))
      .map(_.tracker.phases.values.map(_.durationMs).sum)

  /** The job group a job was started under, if any. */
  def jobGroup(e: SparkListenerJobStart): Option[String] =
    Option(e.properties).flatMap(p =>
      Option(p.getProperty(SparkContext.SPARK_JOB_GROUP_ID)))
}
