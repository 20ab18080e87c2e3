package org.apache.spark

/** Access to the listener bus's drain, which Spark keeps package-private:
  * the tracer's records are read only after every posted event has been
  * delivered. */
object PerfbenchBridge {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
