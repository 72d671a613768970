package org.apache.spark

/** The listener bus delivers events on its own thread. A traced operation
  * waits for the bus to drain before it reads its Spark counters, so every
  * job, stage and task it caused is counted against it. The bus is
  * private to Spark, hence this file's package. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
