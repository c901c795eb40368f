package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Listener events are delivered asynchronously. A span must not read the
  * benchmark's listener counters before every event posted by the actions
  * inside it has been delivered, so this waits for the listener bus to drain
  * (an API Spark keeps package-private, hence this package). */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
