package org.apache.spark

/** Package bridge to the listener bus: task-end events are delivered
  * asynchronously, so a recorder must wait for the bus to drain before
  * it reads the metrics of the jobs an action just ran.
  */
object PerfbenchBridge {
  def drainListenerBus(sc: SparkContext): Unit =
    sc.listenerBus.waitUntilEmpty()
}
