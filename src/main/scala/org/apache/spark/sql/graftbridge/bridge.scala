package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.classic
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Bridge into `private[sql]` column/expression/plan conversions
  * (Spark 4 wraps Columns in ColumnNodes; this is the
  * supported-internal path between the public DSL and custom Catalyst
  * expressions / logical plans). */
object Bridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Wrap a custom LogicalPlan as a DataFrame. */
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  /** The analyzed logical plan of a DataFrame. */
  def logicalPlan(df: DataFrame): LogicalPlan =
    df.asInstanceOf[classic.Dataset[_]].logicalPlan

  /** Run `build` and return its DataFrame together with every query
    * execution it fired (the EAGER sub-executions: iterative loop
    * rounds, cache-materializing counts, localCheckpoints, warehouse
    * writes), in completion order. Listener events post
    * asynchronously, so the shared listener bus (`private[spark]`;
    * this bridge is the supported-internal path to it) is drained
    * before the per-call listener registers — an execution that
    * finished earlier cannot be delivered into this capture — and
    * again before it unregisters, so nothing the build fired is lost. */
  def captureEager(spark: SparkSession)(build: => DataFrame): (DataFrame, Seq[QueryExecution]) = {
    val subs = new java.util.concurrent.ConcurrentLinkedQueue[QueryExecution]()
    val listener = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, d: Long): Unit = { subs.add(qe); () }
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.sparkContext.listenerBus.waitUntilEmpty()
    spark.listenerManager.register(listener)
    try {
      val df = build
      spark.sparkContext.listenerBus.waitUntilEmpty()
      import scala.jdk.CollectionConverters._
      (df, subs.asScala.toSeq)
    } finally spark.listenerManager.unregister(listener)
  }

  /** Name of the capture mechanism, for generated docs that describe it. */
  val captureMechanism: String = classOf[QueryExecutionListener].getSimpleName
}
