package org.apache.spark

/** The listener bus delivers events on its own thread; a spec that counts
  * jobs drains it before reading its listener. The bus is private to Spark,
  * hence this file's package. */
object SpecBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
