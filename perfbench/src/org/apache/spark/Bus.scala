package org.apache.spark

/** Waits until the listener bus has delivered every posted event, so a
  * rollup read after the last action sees all of its tasks. The bus is
  * private to Spark's own package, hence this file's package. */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
