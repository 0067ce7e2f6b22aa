package org.apache.spark.sql.graftshim

import org.apache.spark.SparkContext
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.encoders.RowEncoder
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.classic
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.execution.QueryExecution

/** Bridge into Spark's `private[sql]` Column ↔ Expression converters.
  *
  * Spark 4 hides the Expression behind an opaque `ColumnNode`; extension
  * libraries that define custom Catalyst expressions (our
  * `graft.expressions.*`) need this one hop to expose them as user-facing
  * `Column`s; [[graft.Metrics]] drains the `private[spark]` listener bus;
  * [[graft.Dashboard]] runs prepared plans; `Inspect` reads the codegen
  * compile count. Lives under `org.apache.spark.sql` solely for access —
  * no Spark code is modified or copied.
  */
object Shims {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Returns once every event posted so far reached the listeners. Spark
    * wakes a failed job's caller before it posts the JobEnd; a no-op tag
    * cancellation queued behind that handler orders the drain after it. */
  def drainListenerBus(sc: SparkContext): Unit = {
    val behind = sc.cancelJobsWithTagWithFuture(java.util.UUID.randomUUID().toString, "drain")
    scala.concurrent.Await.ready(behind, scala.concurrent.duration.Duration(10, "s"))
    sc.listenerBus.waitUntilEmpty()
  }

  /** Generated sources Janino compiled in this JVM so far: Spark's
    * `CodegenMetrics`, which counts for every session and thread. */
  def codegenCompiles: Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  /** `plan`, an optimized plan, kept for reuse: the Dataset ids that
    * Spark's self-join check tags a DataFrame's plan with are dropped, so
    * the DataFrames later built over it do not pile ids onto it. */
  def forReuse(plan: LogicalPlan): LogicalPlan = {
    plan.foreach(_.unsetTagValue(classic.Dataset.DATASET_ID_TAG))
    plan
  }

  /** A DataFrame over `plan`, taken as already analyzed and optimized: its
    * QueryExecution runs no analysis and no optimization, while physical
    * planning, AQE and execution run as for any DataFrame. */
  def optimizedDataFrame(spark: SparkSession, plan: LogicalPlan): DataFrame = {
    plan.setAnalyzed()
    val qe = new QueryExecution(spark.asInstanceOf[classic.SparkSession], plan) {
      override def analyzed: LogicalPlan = plan
      override def optimizedPlan: LogicalPlan = plan
    }
    new classic.Dataset[Row](qe, () => RowEncoder.encoderFor(plan.schema))
  }
}
