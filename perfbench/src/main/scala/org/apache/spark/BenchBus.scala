package org.apache.spark

/** Waits until Spark's listener bus has delivered every posted event.
  * The traced run drains at each span boundary, so events without a job
  * group (query-execution and streaming-progress callbacks) land in the
  * span that caused them. The bus itself is private to Spark. */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
