package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Flushes Spark's asynchronous listener bus. Stage and task events are
  * posted after the action that caused them returns; the benchmark drains
  * the bus before it reads its listener, so that every event lands on the
  * call that caused it and not on the next one. The bus is package-private
  * to Spark, hence this package.
  */
object BusDrain {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
