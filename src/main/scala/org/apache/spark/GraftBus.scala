package org.apache.spark

/** Waits until Spark's listener bus has delivered every posted event.
  * The bus itself is private to Spark. */
object GraftBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
