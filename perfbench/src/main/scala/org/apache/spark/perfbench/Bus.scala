package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Listener events reach listeners asynchronously; a span that reads the
  * counters at its end must first let the bus deliver every event its jobs
  * posted. The listener bus is private to the `org.apache.spark` package. */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
