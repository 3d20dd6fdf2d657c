package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** The listener bus is `private[spark]`; this one call is why the class
  * lives under `org.apache.spark`. Draining the bus between harness phases
  * lets counters be attributed by sequential window: every event a phase
  * caused has been delivered before the next phase starts.
  */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
