package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Listener-bus access the public API does not expose: block until every
  * posted event (jobs, stages, tasks, streaming progress) has reached
  * the registered listeners, so a measurement read after it is complete.
  */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
