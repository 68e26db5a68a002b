package org.apache.spark

/** Listener-bus bridge: SparkContext keeps `listenerBus` `private[spark]`,
  * and Spark has no public wait for queued listener events. Measurement
  * code drains the bus after its jobs so a listener has seen every
  * task-end before its counters are read; a fixed sleep undercounts
  * whenever events are still queued under load.
  */
object GraftListenerBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
