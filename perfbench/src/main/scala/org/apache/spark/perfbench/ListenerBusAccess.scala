package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Lives in Spark's package only to reach the listener bus: a traced
  * span must not close before the task events of its jobs have been
  * delivered, or their counts would land on the next span. A bus that
  * does not drain within Spark's wait (10 s) leaves the late counts to
  * the next span rather than failing the run. */
object ListenerBusAccess {
  def drain(sc: SparkContext): Unit =
    try sc.listenerBus.waitUntilEmpty()
    catch { case _: java.util.concurrent.TimeoutException => () }
}
