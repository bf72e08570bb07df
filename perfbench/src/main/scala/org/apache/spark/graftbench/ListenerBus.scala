package org.apache.spark.graftbench

import org.apache.spark.SparkContext

/** Access to the listener bus drain, which Spark keeps package-private.
  * The harness drains the bus before it reads counters that listeners
  * accumulate asynchronously, so a task that ended just before a span
  * closed is not lost or credited to the next span. */
object ListenerBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
