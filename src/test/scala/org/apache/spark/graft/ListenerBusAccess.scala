package org.apache.spark.graft

import org.apache.spark.SparkContext

/** Lives in Spark's package only to reach the listener bus: a spec
  * that counts events with a `SparkListener` must wait for the bus to
  * deliver them before it reads the count. */
object ListenerBusAccess {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
