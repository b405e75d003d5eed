package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** The listener bus delivers events on its own thread. The traced run reads
  * its counters at span boundaries, so it first waits for every event posted
  * so far to be delivered. `waitUntilEmpty` is package-private to Spark,
  * hence this one-method bridge in Spark's package. */
object ListenerBusAccess {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(30000L)
}
