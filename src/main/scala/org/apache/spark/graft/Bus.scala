package org.apache.spark.graft

import org.apache.spark.SparkContext

/** Shim for the listener bus, which is `private[spark]`: a profiler
  * drains it before reading what its listener saw, so no stage event
  * still queued behind the run is lost.
  */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
