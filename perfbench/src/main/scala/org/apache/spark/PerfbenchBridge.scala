package org.apache.spark

/** Access to the listener bus, which Spark keeps package-private: the
  * tracer waits for every event of a query to be delivered before it
  * reads them.
  */
object PerfbenchBridge {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
