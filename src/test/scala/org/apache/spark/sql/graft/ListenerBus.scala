package org.apache.spark.sql.graft

import org.apache.spark.SparkContext

/** The listener bus is `private[spark]`; draining it lets a spec count the
  * jobs a block launched once every event it caused has been delivered.
  */
object ListenerBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
