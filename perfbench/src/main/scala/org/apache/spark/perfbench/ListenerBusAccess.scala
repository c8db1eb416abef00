package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** The listener bus is delivered asynchronously, and waiting for it to
  * drain is Spark-internal API; this shim is the one place the harness
  * reaches it, so counters are read only after every event arrived. */
object ListenerBusAccess {
  def waitUntilEmpty(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
