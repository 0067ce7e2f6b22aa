package org.apache.spark.sql.graftshim

import org.apache.spark.SparkContext
import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Bridge into Spark's `private[sql]` Column ↔ Expression converters.
  *
  * Spark 4 hides the Expression behind an opaque `ColumnNode`; extension
  * libraries that define custom Catalyst expressions (our
  * `graft.expressions.*`) need this one hop to expose them as user-facing
  * `Column`s; [[graft.Metrics]] drains the `private[spark]` listener bus.
  * Lives under `org.apache.spark.sql` solely for access — no Spark
  * code is modified or copied.
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
}
