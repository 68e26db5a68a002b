package org.apache.spark

/** Package bridge to the listener bus, which SparkContext keeps
  * `private[spark]`. The benchmark drains it after every measured job so
  * its listener has seen every task-end and block-update event before the
  * counters are read: a fixed sleep undercounts when late events are still
  * queued under load.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
