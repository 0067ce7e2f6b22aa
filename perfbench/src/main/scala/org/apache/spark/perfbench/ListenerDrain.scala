package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** The listener bus is delivered asynchronously; the benchmark drains it
  * before it reads the counts a traced op produced, so late job and stage
  * events land in that op and not in the next one. The bus is
  * `private[spark]`, hence this accessor in Spark's package.
  */
object ListenerDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
